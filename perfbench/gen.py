"""Seeded input generator for the benchmark.

Everything the program under test receives is made here. The source
tables (TPC-H-shaped star-schema sources, documents, embeddings) are
drawn from one fixed data seed, as the repository's test fixtures are
fixed: every run measures the same data. The workload seed draws the
operations: the dashboard query parameters, the index probe ids and
the append delta batches (re-keyed embedding rows). The same seed and
scale give byte-identical inputs.

The tables follow the repository's sf0.1 test fixtures (FIXTURES.md):
the same columns, types, vocabularies and value ranges.
  - star tables: row counts scale with `sf` the way TPC-H tables do.
  - documents: 10-100 words each over the fixtures' 30-word vocabulary,
    sources round-robin over 20, 5% near copies (an original text plus
    " dup", so two near copies of one original are exact copies), as in
    the sf0.1 fixture.
  - embeddings: the 10x upscale of the fixture (`graft.Upscale`): base
    vectors drawn uniformly on the 64-dim unit sphere with uniform
    labels, then ten copies, copy k keyed `vec_id + k * 10^8` and, for
    k > 0, shifted by Upscale's deterministic per-dimension jitter.
perfbench/README.md records how these inputs compare with the fixtures.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream "
             "table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64
FIRST_DAY = np.datetime64("1995-01-01")
N_DAYS = int((np.datetime64("2001-08-01") - FIRST_DAY).astype(int)) + 1
# Dashboard parameter domain: the region names and part types as the
# warehouse build writes them (CleanFns.cleanTitle title-cases regions;
# categories keep the raw p_type).
DASH_REGIONS = ["Africa", "America", "Asia", "Europe", "Middle East"]
MONTHS = [f"{y}-{m:02d}" for y in range(1995, 2002) for m in range(1, 13)
          if (y, m) <= (2001, 8)]

WINDOW_MONTHS = 12

# Operations pre-generated per run; the closed loop stops on time
# long before it runs out.
PLAN_OPS = 1000
APPEND_EVERY = 10
# 40 rows touch about 30 of the index's 64 buckets, so one build and ten
# appends leave about 367 files, the count measured on the upscaled fixture
APPEND_ROWS = 40
# the source tables are the same for every workload seed
DATA_SEED = 20240601
UPSCALE = 10
COPY_OFFSET = 10**8
DELTA_ID0 = UPSCALE * COPY_OFFSET


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=1 << 20)


def _ts(days):
    return pa.array((FIRST_DAY + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def star_tables(rng, sf, out_dir):
    """region, nation, customer, supplier, part, orders, lineitem."""
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_supp = int(1_500_000 * sf), int(6_000_000 * sf), max(int(10_000 * sf), 10)
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    _write(out_dir, "part", pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)}))
    ok = np.arange(n_ord, dtype=np.int64)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, N_DAYS, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(0, N_DAYS + 90, n_li))}))


def documents(rng, n_docs, out_dir):
    """Word-salad documents over the fixture vocabulary. As in the sf0.1
    fixture, 5% are near copies: an original's text plus " dup"."""
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n_docs)]
    pos = rng.permutation(n_docs)
    near, originals = pos[:n_docs // 20], pos[n_docs // 20:]
    for i in near:
        texts[i] = texts[rng.choice(originals)] + " dup"
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))


def _jitter(ids, k):
    """graft.Upscale's per-dimension shift of copy k (ids already shifted)."""
    i = np.arange(EMBED_DIM)
    return (((ids[:, None] * 31 + i[None, :] + k) % 7) - 3).astype(np.float32) * np.float32(1e-4)


def _embed_table(ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32())})


def embeddings(rng, n_base, out_dir):
    """The 10x upscale of `n_base` uniform unit vectors, as
    `graft.Upscale` makes it from the fixture."""
    m = rng.normal(0.0, 1.0, (n_base, EMBED_DIM))
    base = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, n_base)
    ids = np.concatenate([np.arange(n_base) + k * COPY_OFFSET for k in range(UPSCALE)])
    vecs = np.concatenate([base + (_jitter(ids[k * n_base:(k + 1) * n_base], k) if k else 0)
                           for k in range(UPSCALE)])
    _write(out_dir, "embeddings", _embed_table(ids, vecs, np.tile(labels, UPSCALE)))


def embedding_deltas(rng, out_dir):
    """The append delta batches: rows of the index input re-keyed to
    fresh ids from DELTA_ID0 up, with the jitter of a next Upscale copy."""
    t = pq.read_table(os.path.join(out_dir, "embeddings.parquet")).to_pydict()
    n_batches = PLAN_OPS // APPEND_EVERY + 1
    src = rng.integers(0, len(t["vec_id"]), n_batches * APPEND_ROWS)
    ids = DELTA_ID0 + np.arange(len(src))
    vecs = np.asarray(t["embedding"], dtype=np.float32)[src] + _jitter(ids, UPSCALE)
    delta = _embed_table(ids, vecs, np.asarray(t["label"])[src])
    delta = delta.append_column("batch", pa.array(np.arange(len(src)) // APPEND_ROWS, pa.int32()))
    _write(out_dir, "embeddings_delta", delta)


# The four dashboard query shapes over the written snapshot. The same
# text runs in Spark and, for the check, in DuckDB, so it keeps to
# their common dialect; revenue sums are DECIMAL so both engines agree
# exactly and top-k ties break on a unique key.
REVENUE = "sum(CAST(f.revenue AS DECIMAL(18, 2))) AS revenue"
QUERIES = {
    "rollup": (
        "SELECT l.region, p.category, count(*) AS n_sales, sum(f.quantity) AS qty, "
        f"{REVENUE} FROM fact_sales f "
        "JOIN dim_location l ON f.location_sk = l.location_sk "
        "JOIN dim_product p ON f.product_sk = p.product_sk "
        "WHERE l.region IN ({regions}) AND p.category IN ({categories}) "
        "GROUP BY ROLLUP (l.region, p.category) "
        "ORDER BY l.region NULLS LAST, p.category NULLS LAST"),
    "month_slice": (
        f"SELECT l.nation, count(*) AS n_sales, {REVENUE} FROM fact_sales f "
        "JOIN dim_location l ON f.location_sk = l.location_sk "
        "WHERE f.order_month = '{month}' GROUP BY l.nation ORDER BY l.nation"),
    "topk_users": (
        f"SELECT u.username, count(*) AS n_sales, {REVENUE} FROM fact_sales f "
        "JOIN dim_user u ON f.user_sk = u.user_sk "
        "WHERE f.order_month BETWEEN '{month_lo}' AND '{month_hi}' "
        "GROUP BY u.username ORDER BY revenue DESC, u.username LIMIT {k}"),
    "monthly_trend": (
        f"SELECT f.order_month, count(*) AS n_sales, {REVENUE}, "
        "round(avg(f.quantity), 6) AS avg_qty FROM fact_sales f "
        "JOIN dim_product p ON f.product_sk = p.product_sk "
        "WHERE p.category = '{category}' "
        "AND f.order_month BETWEEN '{month_lo}' AND '{month_hi}' "
        "GROUP BY f.order_month ORDER BY f.order_month"),
}


def _sql_list(xs):
    return ", ".join(f"'{x}'" for x in xs)


def dashboard_plan(rng):
    """One op is a dashboard refresh: the four panels, one query of each
    shape in a fixed order, with seeded parameters. Each panel carries
    its shape, its parameters and the SQL they render to."""
    ops = []
    for _ in range(PLAN_OPS):
        panels = []
        for shape in QUERIES:
            # a trailing-year window: every refresh scans the same number
            # of month partitions, so its cost does not hinge on the seed
            a = int(rng.integers(0, len(MONTHS) - WINDOW_MONTHS + 1))
            b = a + WINDOW_MONTHS - 1
            regions = sorted(rng.choice(DASH_REGIONS, rng.integers(2, 5), replace=False).tolist())
            cats = sorted(rng.choice(PART_TYPES, rng.integers(2, 5), replace=False).tolist())
            params = {"month": MONTHS[a], "month_lo": MONTHS[a], "month_hi": MONTHS[b],
                      "regions": regions, "categories": cats, "category": cats[0],
                      "k": int(rng.integers(5, 21))}
            sql = QUERIES[shape].format(**{**params, "regions": _sql_list(regions),
                                           "categories": _sql_list(cats)})
            panels.append({"shape": shape, "params": params, "sql": sql})
        ops.append({"panels": panels})
    return ops


def index_plan(rng, n_base):
    """Serve probes over the index input's ids; every APPEND_EVERY-th op
    appends the next delta batch."""
    ops, batch = [], 0
    for i in range(PLAN_OPS):
        if i % APPEND_EVERY == APPEND_EVERY - 1:
            ops.append({"op": "append", "batch": batch})
            batch += 1
        else:
            probe = int(rng.integers(0, UPSCALE)) * COPY_OFFSET + int(rng.integers(0, n_base))
            ops.append({"op": "serve", "probe": probe})
    return ops


# Input sizes per scale. `full` is what the benchmark measures: the sf0.1
# fixture's star tables and documents, and the 10x upscale of its 2,000
# embeddings. `tiny` is the self-test scale.
SIZES = {
    "full": {"star_sf": 0.1, "docs": 5_000, "base_vecs": 2_000},
    "tiny": {"star_sf": 0.001, "docs": 500, "base_vecs": 50},
}
TABLES_VERSION = 3


def tables(workload, scale, out_dir):
    """Write the workload's source tables from DATA_SEED, unless out_dir
    already holds them."""
    marker = os.path.join(out_dir, "tables.json")
    want = {"workload": workload, "scale": scale, "version": TABLES_VERSION}
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == want:
                return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([DATA_SEED, 7919])
    size = SIZES[scale]
    if workload == "dashboard":
        star_tables(rng, size["star_sf"], out_dir)
    elif workload == "index_serve_append":
        documents(rng, size["docs"], out_dir)
        embeddings(rng, size["base_vecs"], out_dir)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(marker, "w") as f:
        json.dump(want, f)


def generate(workload, seed, scale, out_dir):
    """Write the inputs for one workload run: its source tables and the
    seed's operation plan. Returns the plan dict."""
    tables(workload, scale, out_dir)
    # negative seeds are valid too: numpy takes only non-negative entropy
    rng = np.random.default_rng([seed % 2**64, 7919])
    plan = {"workload": workload, "seed": seed, "scale": scale, "ops": []}
    if workload == "dashboard":
        plan["ops"] = dashboard_plan(rng)
    else:
        embedding_deltas(rng, out_dir)
        plan["ops"] = index_plan(rng, SIZES[scale]["base_vecs"])
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan
