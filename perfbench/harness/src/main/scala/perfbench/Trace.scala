package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** In-memory span recorder for the traced run. A span is one call into
  * a layer: name, start, end, the enclosing span and the operation it
  * belongs to. Spans are kept in memory and written out when the run
  * ends. With `enabled` off, `span` only evaluates its body.
  */
final class Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

  var enabled = false
  var op: Int = -1
  /** Add to a span's nanoTime to get epoch nanoseconds, the clock of
    * the listener's job times. */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def records: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}

/** Spark listener that attributes jobs, stages and task metrics to the
  * benchmark operation that submitted them. The harness tags each
  * traced operation with the local property [[JobRecorder.OpKey]];
  * untagged jobs are ignored, so the listener costs nothing on
  * untraced operations.
  */
final class JobRecorder extends SparkListener {
  final class OpStats {
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  // all callbacks run on the single listener-bus thread
  val byOp = mutable.Map.empty[Int, OpStats]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, (Int, Long)]

  private def stats(op: Int) = byOp.getOrElseUpdate(op, new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(JobRecorder.OpKey))).foreach { v =>
      val op = v.toInt
      jobOp(e.jobId) = (op, e.time)
      e.stageInfos.foreach(s => stageOp(s.stageId) = op)
      stats(op).jobs += 1
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOp.remove(e.jobId).foreach { case (op, t0) => stats(op).intervals += (t0 -> e.time) }

  // skipped stages never complete, so this counts executed stages only
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageOp.get(e.stageInfo.stageId).foreach(op => stats(op).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOp.get(e.stageId).foreach { op =>
      val s = stats(op)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }

  def records: Map[String, Map[String, Any]] = byOp.map { case (op, s) =>
    op.toString -> Map("jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
      "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs,
      "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
      "spill_bytes" -> s.spill,
      "job_intervals" -> s.intervals.toSeq.map { case (a, b) => Seq(a, b) })
  }.toMap
}

object JobRecorder {
  val OpKey = "perfbench.op"
}

/** File and partition counts read by the scans of an executed query,
  * from the scan nodes' driver metrics (AQE stages included). */
object ScanMetrics extends AdaptiveSparkPlanHelper {
  def apply(df: DataFrame): (Long, Long) = {
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    def sum(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
    (sum("numFiles"), sum("numPartitions"))
  }
}
