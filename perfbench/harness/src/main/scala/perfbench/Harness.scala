package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.etl.RunEtl
import graft.text.RunCurate
import graft.vector.{RunIndex, VectorFns}

/** One benchmark run of one workload, in one JVM and one Spark
  * session. It drives the program only through its public layer
  * entry points (`RunEtl.buildWarehouse`, `RunCurate.curate`,
  * `RunIndex.build/serve/append`, `spark.sql` over the written
  * snapshot) as a closed loop with one client, and writes the raw
  * record of the run (setup phases, per-operation latencies, answers,
  * check failures, spans, per-operation Spark counters) as JSON for
  * `perfbench/run.py` to check and aggregate.
  *
  * Workloads: `dashboard` (setup: the warehouse snapshot; loop:
  * four-panel dashboard refreshes) and `index_serve_append` (setup:
  * the curated corpus and the vector index; loop: serves, every 10th
  * operation an append).
  *
  * Usage: `perfbench.Harness --workload W --data DIR --work DIR
  *   --seconds S --trace 0|1 --cpus C --out FILE`
  */
object Harness {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val run = new Run(opt("workload"), opt("data"), opt("work"), opt("seconds").toDouble,
      opt("trace") == "1", opt("cpus").toInt)
    mapper.writeValue(new File(opt("out")), run.execute())
  }
}

final class Run(workload: String, data: String, work: String, seconds: Double,
                trace: Boolean, cpus: Int) {
  private val tracer = new Tracer
  private val recorder = new JobRecorder
  private var spark: SparkSession = _

  private val plan = Harness.mapper.readValue(new File(s"$data/plan.json"), classOf[Map[String, Any]])
  private val planOps = plan("ops").asInstanceOf[Seq[Map[String, Any]]]

  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val answers = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextOp = 0
  // index of the next plan operation
  private var cursor = 0
  private var deltas: Map[Int, Seq[Row]] = Map.empty
  // stage stats of the latest warehouse build or curation
  private val setupStages = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def snapshotDir = s"$work/snapshot"
  private def indexDir = s"$work/index"
  private def curateDir = s"$work/curate"

  private def startSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (trace) s.sparkContext.addSparkListener(recorder)
    s
  }

  /** Setup is the session start, the batch builds the workload reads
    * and the warm-up operations. The builds are the JVM's first Spark
    * work, as in a fresh ETL process. A traced run then builds once
    * more, outside setup: the per-layer stage figures come from that
    * build on a warm JVM. */
  def execute(): Map[String, Any] = {
    tracer.enabled = trace
    val s0 = System.nanoTime()
    tracer.span("setup.session") { spark = startSession() }
    val s1 = System.nanoTime()
    val (curateS, buildS) = tracer.span("setup.builds")(builds())
    if (trace) tracer.span("layers.warm_builds")(builds())
    loadDeltas()
    val s2 = System.nanoTime()
    tracer.span("setup.warmup")(warmup())
    val s3 = System.nanoTime()
    val phases = Seq("session_s" -> (s1 - s0) / 1e9, "curate_s" -> curateS,
      "build_s" -> buildS, "warmup_s" -> (s3 - s2) / 1e9)
    val setup = (phases :+ ("total_s" -> phases.map(_._2).sum)).toMap
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < deadline && hasNext) {
      step(warm = false, alternate = n % 2 == 1)
      n += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9
    finish()
    val result = Map(
      "workload" -> workload, "seed" -> plan("seed"), "cpus" -> cpus,
      "setup" -> setup, "setup_stages" -> setupStages.toSeq,
      "measured_s" -> measured, "ops" -> ops.toSeq,
      "answers" -> answers.toSeq, "failures" -> failures.toSeq,
      "spans" -> tracer.records, "epoch_offset_ns" -> tracer.epochOffsetNs,
      "spark" -> recorder.records,
      "peak_rss_mb" -> peakRssMb, "index_files" -> indexFiles)
    spark.stop()
    result
  }

  private def finish(): Unit = {
    if (workload == "index_serve_append") {
      val appended = ops.count(o => o("kind") == "append" && o("ok") == true)
      answers += Map("op" -> -1, "kind" -> "index_rows",
        "rows" -> spark.read.parquet(s"$indexDir/vectors").count(), "appends" -> appended)
    }
    if (trace) ListenerBridge.drain(spark.sparkContext)
  }

  private def hasNext: Boolean = cursor < planOps.size

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  // ---------------------------------------------------------------- setup

  /** The batch builds the workload reads; returns the seconds of the
    * curation (0 without one) and of the snapshot or index build. */
  private def builds(): (Double, Double) = {
    setupStages.clear()
    workload match {
      case "dashboard" => (0.0, timed(buildSnapshot()))
      case "index_serve_append" => (timed(curateCorpus()), timed(buildIndex()))
    }
  }

  private def registerViews(dir: String): Unit =
    Seq("fact_sales", "dim_user", "dim_product", "dim_location", "dim_date").foreach { t =>
      spark.read.parquet(s"$dir/$t").createOrReplaceTempView(t)
    }

  private def buildSnapshot(): Unit = {
    val stats = RunEtl.buildWarehouse(spark, data, snapshotDir)
    setupStages ++= stageRecord(stats.map(s => (s.stage, s.rows, s.seconds)))
    registerViews(snapshotDir)
  }

  /** The retrieval corpus is curated before the index is built; its
    * output is checked by `check.py`. */
  private def curateCorpus(): Unit = {
    val stats = RunCurate.curate(spark, data, curateDir)
    setupStages ++= stageRecord(stats.map(s => (s.stage, s.rows, s.seconds)))
  }

  /** `RunIndex.build` appends to its output, so a rebuild starts from
    * an empty directory. */
  private def buildIndex(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new File(indexDir))
    RunIndex.build(spark, data, indexDir)
  }

  /** The append batches are client-side inputs: held in driver memory,
    * outside the timed window. */
  private def loadDeltas(): Unit =
    if (workload == "index_serve_append")
      deltas = spark.read.parquet(s"$data/embeddings_delta.parquet").collect()
        .groupBy(_.getAs[Int]("batch")).map { case (b, rs) => b -> rs.toSeq }

  /** Warm-up operations let caches fill and lazy set-up finish; they
    * are checked like the measured ones. */
  private def warmup(): Unit = {
    val n = if (workload == "dashboard") 2 else 4
    (1 to n).foreach(_ => step(warm = true, alternate = false))
  }

  // ----------------------------------------------------------- operations

  /** Run the next operation as a timed call, then check it untimed.
    * A traced run traces every other measured operation (`alternate`),
    * so the tracing overhead is measured within the run, and every
    * append. */
  private def step(warm: Boolean, alternate: Boolean): Unit = {
    val id = nextOp
    nextOp += 1
    val (kind, body, check) = nextOperation(id)
    val traced = trace && !warm && (alternate || kind == "append")
    val sc = spark.sparkContext
    sc.setLocalProperty(JobRecorder.OpKey, if (traced) id.toString else null)
    tracer.enabled = traced
    tracer.op = id
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outcome = try Right(tracer.span(s"op.$kind")(body())) catch {
      case NonFatal(e) => Left(e.toString)
    }
    val t1 = System.nanoTime()
    val e1 = System.currentTimeMillis()
    sc.setLocalProperty(JobRecorder.OpKey, null)
    tracer.enabled = false
    val extra = mutable.Map.empty[String, Any]
    val ok = outcome match {
      case Left(err) =>
        failures += Map("op" -> id, "reason" -> err)
        false
      case Right(out) =>
        try check(out, extra) catch {
          case NonFatal(e) =>
            failures += Map("op" -> id, "reason" -> s"check: $e")
            false
        }
    }
    ops += Map("op" -> id, "kind" -> kind, "warm" -> warm, "traced" -> traced,
      "ms" -> (t1 - t0) / 1e6, "epoch0" -> e0, "epoch1" -> e1, "ok" -> ok) ++ extra
  }

  private type Check = (Any, mutable.Map[String, Any]) => Boolean

  private def nextOperation(id: Int): (String, () => Any, Check) = workload match {
    case "dashboard" =>
      val planIndex = cursor
      val panels = planOps(cursor)("panels").asInstanceOf[Seq[Map[String, Any]]]
      cursor += 1
      ("refresh", () => panels.map(p => query(p("sql").toString)),
        (out: Any, extra: mutable.Map[String, Any]) => {
          val results = out.asInstanceOf[Seq[(Array[Row], Long, Long)]]
          extra ++= Map("files_read" -> results.map(_._2).sum,
            "partitions_read" -> results.map(_._3).sum)
          results.zipWithIndex.foreach { case ((rows, _, _), panel) =>
            answers += Map("op" -> id, "kind" -> "query", "plan_index" -> planIndex,
              "panel" -> panel, "rows" -> rows.toSeq.map(r => r.toSeq.map(jsonValue)))
          }
          true
        })
    case "index_serve_append" =>
      val p = planOps(cursor)
      cursor += 1
      p("op") match {
        case "serve" =>
          val probe = p("probe").toString.toLong
          ("serve", () => serve(probe), (out: Any, _: mutable.Map[String, Any]) => {
            answers += Map("op" -> id, "kind" -> "serve", "probe" -> probe,
              "rows" -> out.asInstanceOf[Array[Row]].toSeq.map(r => r.toSeq.map(jsonValue)))
            true
          })
        case "append" =>
          val batch = p("batch").toString.toInt
          ("append", () => append(batch), (_: Any, extra: mutable.Map[String, Any]) => {
            extra("batch") = batch
            extra("rows") = deltas(batch).size
            true
          })
      }
  }

  private def query(sql: String): (Array[Row], Long, Long) =
    if (!tracer.enabled) (spark.sql(sql).collect(), 0L, 0L)
    else {
      val df = tracer.span("olap.analyze")(spark.sql(sql))
      tracer.span("olap.plan")(df.queryExecution.executedPlan)
      val rows = tracer.span("olap.exec")(df.collect())
      val (files, parts) = ScanMetrics(df)
      (rows, files, parts)
    }

  private def serve(probe: Long): Array[Row] = {
    val df = tracer.span("vector.serve_lookup")(RunIndex.serve(spark, indexDir, probe))
    tracer.span("vector.serve_exec")(df.collect())
  }

  private def append(batch: Int): Unit = {
    val rows = deltas(batch)
    val delta = spark.createDataFrame(rows.asJava, rows.head.schema)
      .select(col("vec_id"), col("label"), VectorFns.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorFns.norm(col("v")))
    tracer.span("vector.append")(RunIndex.append(spark, delta, indexDir))
  }

  // --------------------------------------------------------------- checks

  private def stageRecord(stats: Seq[(String, Long, Double)]): Seq[Map[String, Any]] =
    stats.map { case (s, r, sec) => Map("stage" -> s, "rows" -> r, "seconds" -> sec) }

  private def jsonValue(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.toPlainString
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case x => x
  }

  // ---------------------------------------------------------------- gauges

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def indexFiles: Long = {
    val root = Paths.get(s"$indexDir/vectors")
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
  }
}
