"""Output checks that run outside the timed window.

- dashboard: every answer must equal DuckDB's answer to the same SQL
  over the same snapshot files.
- index_serve_append: every served top-k must equal a brute-force
  cosine top-k over the probed buckets of the index as it stood when
  the serve ran, and the final index row count must equal the base
  count plus the appended rows.
- curation (index_serve_append's setup): each stage's
  output is recomputed from the stage before it — the quality gate,
  first-wins exact dedup, the per-source quota and the token-budget
  shards — and the near-dup and decontamination stages may only drop
  documents.

Each check returns a list of (op id, reason) failures.
"""

import glob
import math
import os

import numpy as np
import pyarrow.parquet as pq

import gen


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return str(a) == str(b)
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


def _same_rows(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def dashboard(result, plan, snapshot_dir):
    import duckdb
    con = duckdb.connect()
    fact = os.path.join(snapshot_dir, "fact_sales", "*", "*.parquet")
    con.execute(f"CREATE VIEW fact_sales AS SELECT * FROM "
                f"read_parquet('{fact}', hive_partitioning = true)")
    for t in ["dim_user", "dim_product", "dim_location", "dim_date"]:
        path = os.path.join(snapshot_dir, t, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    failures = []
    for a in result["answers"]:
        sql = plan["ops"][a["plan_index"]]["panels"][a["panel"]]["sql"]
        want = [list(r) for r in con.execute(sql).fetchall()]
        if not _same_rows(a["rows"], want):
            failures.append((a["op"], f"answer differs from DuckDB: {a['rows'][:3]} vs {want[:3]}"))
    con.close()
    return failures


def _load_index(index_dir):
    """vec_id → (bucket, vector, norm) for every row of the index."""
    rows = {}
    for f in glob.glob(os.path.join(index_dir, "vectors", "bucket=*", "*.parquet")):
        bucket = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
        t = pq.read_table(f, columns=["vec_id", "v", "nrm"]).to_pydict()
        for vid, v, nrm in zip(t["vec_id"], t["v"], t["nrm"]):
            rows[vid] = (bucket, np.asarray(v, dtype=np.float64), nrm)
    return rows


def index(result, index_dir, n_base, lsh_bits=6, k=10):
    index_rows = _load_index(index_dir)
    ids = np.array(sorted(index_rows))
    buckets = np.array([index_rows[i][0] for i in ids])
    vecs = np.stack([index_rows[i][1] for i in ids])
    norms = np.array([index_rows[i][2] for i in ids])
    visible = ids < gen.DELTA_ID0
    appended = {}
    failures = []
    serves = {a["op"]: a for a in result["answers"] if a["kind"] == "serve"}
    for op in result["ops"]:
        if op["kind"] == "append" and op["ok"]:
            lo = gen.DELTA_ID0 + op["batch"] * gen.APPEND_ROWS
            visible |= (ids >= lo) & (ids < lo + op["rows"])
            appended[op["batch"]] = op["rows"]
        elif op["kind"] == "serve" and op["op"] in serves:
            a = serves[op["op"]]
            p = int(np.searchsorted(ids, a["probe"]))
            keys = [buckets[p]] + [buckets[p] ^ (1 << j) for j in range(lsh_bits)]
            cand = visible & np.isin(buckets, keys) & (ids != a["probe"])
            sims = (vecs[cand] @ vecs[p]) / (norms[cand] * norms[p])
            order = np.lexsort((ids[cand], -sims))[:k]
            want = [(int(ids[cand][i]), float(sims[i])) for i in order]
            got = [(int(r[0]), float(r[2])) for r in a["rows"]]
            sim_of = dict(zip(ids[cand].tolist(), sims.tolist()))
            # ranks must agree on similarity; ids may differ only
            # between candidates tied within rounding
            ok = len(got) == len(want) and all(
                abs(g[1] - w[1]) <= 1.5e-4 and g[0] in sim_of and abs(sim_of[g[0]] - g[1]) <= 1.5e-4
                for g, w in zip(got, want)) and len({g[0] for g in got}) == len(got)
            if not ok:
                failures.append((op["op"], f"serve top-k {got[:3]} differs from brute force {want[:3]}"))
    total = [a for a in result["answers"] if a["kind"] == "index_rows"]
    expect = n_base + sum(appended.values())
    if not total or total[0]["rows"] != expect or len(index_rows) != expect:
        failures.append((-1, f"index holds {total[0]['rows'] if total else None} rows "
                             f"({len(index_rows)} read back), expected {expect}"))
    return failures


def curate(curate_dir, n_docs, min_quality=0.5, quota=40, shard_tokens=50_000):
    """Recompute the curation funnel's selections from its own stage
    snapshots (RunCurate's defaults: quality floor 0.5, 40 docs per
    source, 50,000-token shards)."""
    def read(stage):
        return pq.read_table(os.path.join(curate_dir, stage)).to_pandas().set_index("doc_id")

    s = {st: read(st) for st in
         ["annotate", "quality", "exact", "neardup", "decontam", "balance", "corpus"]}
    problems = []

    def expect(cond, what):
        if not cond:
            problems.append((-1, f"curation: {what}"))

    expect(len(s["annotate"]) == n_docs, "annotate does not hold every input document")
    a = s["annotate"]
    gate = a[(a.quality >= min_quality) & ~a.is_repetitive]
    expect(set(gate.index) == set(s["quality"].index), "quality gate differs")
    firsts = s["quality"].reset_index().groupby("content_hash").doc_id.min()
    expect(set(firsts) == set(s["exact"].index), "exact dedup is not first-wins per content hash")
    expect(set(s["neardup"].index) <= set(s["exact"].index), "neardup added documents")
    expect(set(s["decontam"].index) <= set(s["neardup"].index), "decontam added documents")
    d = s["decontam"].reset_index().sort_values(["source", "quality", "doc_id"],
                                                ascending=[True, False, True])
    expect(set(d.groupby("source").head(quota).doc_id) == set(s["balance"].index),
           "balance is not the top-quality docs per source")
    c = s["corpus"].sort_index()
    expect(set(c.index) == set(s["balance"].index), "corpus differs from balance")
    prefix = c.n_tokens.cumsum() - c.n_tokens
    expect(((prefix // shard_tokens) == c.shard).all(), "corpus shards are not token-budgeted")
    return problems
