"""Opt-in scale CORRECTNESS gates (``pytest -m scale``).

The reference carries an ``#[ignore]``'d 17M-edge LDBC ``kgs`` WCC test
(reference ``src/algorithm/connectivity/connected_components.rs:705-746``)
that asserts exact per-vertex component parity against the published LDBC
result file; the dataset is download-on-demand and not bundled. These
gates port the CONTRACT — exact per-vertex parity at the ~18M-edge scale
the engine benches — onto the bench's deterministic 18M-edge synthetic
tier, with the expected values COMPUTED by an independent engine (DuckDB)
instead of shipped: the scale paths get correctness gates, not just bench
walls. Three algorithms over the SAME generated tier (r13 extends the
original WCC-only gate per the r12 verdict):

  * WCC — min-label propagation to fixpoint, exact component parity;
  * k-core — H-index fixpoint from the definition (sort-rank window,
    not the operator's histogram SQL), exact core-number parity;
  * PageRank — 8-superstep delta-iteration replay, per-vertex
    |diff| <= 1e-12 on normalized ranks.

Excluded from default runs via ``-m "not scale"`` in addopts (the tier
generates ~600 MB of parquet and the suite runs ~7 min on local[32]);
``pytest -m scale`` overrides the marker filter and runs exactly this
file. Last full green: 3 passed in 441s (r13, 2026-08-16).
"""

import os

import duckdb
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from graphframes_rs_spark.graphframe import GraphFrame

# the 18m scale tier recipe: src/dst are xxhash64-derived, so the graph
# is bit-identical to the one every BENCH_r*.json row measures — the gate
# certifies THAT graph
VERTICES = 6_000_000
EDGES = 18_000_000


@pytest.fixture(scope="module")
def spark_big(tmp_path_factory):
    """Dedicated big-heap session for the scale gates: the shared test
    session's default ~1 GB driver heap OOMs on an 18M-edge contraction
    (measured), and driver memory cannot change after start. Safe to
    coexist with conftest's session fixture because a ``-m scale`` run
    deselects every test that would request it."""
    ckpt = str(tmp_path_factory.mktemp("scale_ckpt"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # getOrCreate() silently IGNORES driver-memory config if a session is
    # already live in this process — the gate would then run on the shared
    # ~1 GB heap and OOM with a confusing executor stack. Fail loudly
    # instead of inheriting the wrong heap.
    existing = SparkSession.getActiveSession()
    if existing is not None:
        pytest.fail(
            "scale gate needs a fresh JVM with a 32g driver heap, but a "
            f"SparkSession already exists ({existing.sparkContext.appName!r}) "
            "and getOrCreate() would silently ignore spark.driver.memory. "
            "Run this file alone: `pytest -m scale` (which deselects every "
            "test that builds the shared session)."
        )
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("graphframes-rs-spark-scale-gate")
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(ckpt)
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def tier18m(spark_big, tmp_path_factory):
    """The bench's 18m tier written once for the whole gate module
    (~600 MB parquet; pytest's tmp factory retention handles cleanup) —
    the k-core and PageRank gates reuse the WCC gate's graph, so all
    three certify the SAME edges every bench row measures."""
    base = str(tmp_path_factory.mktemp("gf_scale_gate"))
    src = F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(VERTICES))
    dst = F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(VERTICES))
    edges = spark_big.range(EDGES).select(
        src.cast("long").alias("src"), dst.cast("long").alias("dst")
    )
    edges.write.mode("overwrite").parquet(base + "/edges")
    return base


@pytest.mark.scale
def test_wcc_18m_exact_parity_vs_duckdb_fixpoint(spark_big, tier18m, tmp_path):
    spark = spark_big
    base = tier18m
    vertices = spark.range(VERTICES).select(F.col("id"))
    g = GraphFrame(vertices, spark.read.parquet(base + "/edges"))

    result = (
        g.connected_components()
        .set_checkpoint_dir(str(tmp_path / "ckpt"))
        .run()
    )
    result.write.mode("overwrite").parquet(base + "/result")

    # Independent oracle: undirected min-label propagation to fixpoint
    # in DuckDB. Converges in O(diameter) rounds (~15 on this random
    # graph); every vertex ends at the min id reachable from it — the
    # same min-member labeling contract the LDBC goldens pin at small
    # scale (tests/test_algorithms_golden.py).
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE e AS "
        f"SELECT src, dst FROM read_parquet('{base}/edges/*.parquet') "
        f"UNION ALL "
        f"SELECT dst, src FROM read_parquet('{base}/edges/*.parquet')"
    )
    con.execute(
        f"CREATE TABLE lbl AS SELECT range AS id, range AS comp "
        f"FROM range({VERTICES})"
    )
    for _ in range(200):
        con.execute(
            "CREATE OR REPLACE TABLE nxt AS "
            "SELECT l.id, least(l.comp, coalesce(m.mc, l.comp)) AS comp "
            "FROM lbl l LEFT JOIN ("
            "  SELECT e.dst AS id, min(l2.comp) AS mc "
            "  FROM e JOIN lbl l2 ON l2.id = e.src GROUP BY e.dst"
            ") m ON m.id = l.id"
        )
        changed = con.execute(
            "SELECT count(*) FROM nxt JOIN lbl USING (id) "
            "WHERE nxt.comp <> lbl.comp"
        ).fetchone()[0]
        con.execute("DROP TABLE lbl")
        con.execute("ALTER TABLE nxt RENAME TO lbl")
        if changed == 0:
            break
    else:
        pytest.fail("DuckDB fixpoint did not converge in 200 rounds")

    # exact per-vertex parity — the reference test's assert_eq(diff, 0)
    diff = con.execute(
        f"SELECT count(*) FROM "
        f"read_parquet('{base}/result/*.parquet') r "
        f"JOIN lbl ON lbl.id = r.id "
        f"WHERE r.component <> lbl.comp"
    ).fetchone()[0]
    n_result = con.execute(
        f"SELECT count(*) FROM read_parquet('{base}/result/*.parquet')"
    ).fetchone()[0]
    assert n_result == VERTICES
    assert diff == 0, f"{diff} vertices with mismatched component"


@pytest.mark.scale
def test_kcore_18m_exact_parity_vs_duckdb_hindex(spark_big, tier18m, tmp_path):
    """Coreness on the 18M-edge tier vs an independent DuckDB H-index
    fixpoint (Lü et al. 2016: c_0 = degree, c_{t+1}(v) = H of v's
    neighbors' c_t, converges to the core number — the same fixpoint the
    specialized loop computes, re-implemented from the definition in a
    different engine: H via a per-round sort-rank window, not the
    operator's histogram/threshold SQL). Exact per-vertex parity;
    isolated vertices carry core 0 on both sides."""
    spark = spark_big
    base = tier18m
    vertices = spark.range(VERTICES).select(F.col("id"))
    g = GraphFrame(vertices, spark.read.parquet(base + "/edges"))
    result = (
        g.k_core().set_checkpoint_dir(str(tmp_path / "kc_ckpt")).run()
    )
    result.write.mode("overwrite").parquet(base + "/kcore_result")

    con = duckdb.connect()
    # the operator's prep contract: undirected, deduped, no self-loops
    con.execute(
        f"CREATE TABLE e AS SELECT DISTINCT * FROM ("
        f"SELECT src, dst FROM read_parquet('{base}/edges/*.parquet') "
        f"WHERE src <> dst UNION ALL "
        f"SELECT dst, src FROM read_parquet('{base}/edges/*.parquet') "
        f"WHERE src <> dst)"
    )
    con.execute(
        f"CREATE TABLE cur AS SELECT v.range AS id, "
        f"coalesce(d.deg, 0) AS c FROM range({VERTICES}) v LEFT JOIN ("
        f"SELECT src AS id, count(*) AS deg FROM e GROUP BY 1) d "
        f"ON d.id = v.range"
    )
    for _ in range(100):
        # H(values) = max_i min(value_i, i) over values sorted desc
        con.execute(
            "CREATE OR REPLACE TABLE nxt AS "
            "SELECT cur.id, least(cur.c, coalesce(h.h, 0)) AS c "
            "FROM cur LEFT JOIN ("
            "  SELECT id, max(least(c, rn)) AS h FROM ("
            "    SELECT e.dst AS id, n.c, row_number() OVER ("
            "      PARTITION BY e.dst ORDER BY n.c DESC) AS rn "
            "    FROM e JOIN cur n ON n.id = e.src) GROUP BY id"
            ") h ON h.id = cur.id"
        )
        changed = con.execute(
            "SELECT count(*) FROM nxt JOIN cur USING (id) "
            "WHERE nxt.c <> cur.c"
        ).fetchone()[0]
        con.execute("DROP TABLE cur")
        con.execute("ALTER TABLE nxt RENAME TO cur")
        if changed == 0:
            break
    else:
        pytest.fail("DuckDB H-index fixpoint did not converge in 100 rounds")

    diff = con.execute(
        f"SELECT count(*) FROM "
        f"read_parquet('{base}/kcore_result/*.parquet') r "
        f"JOIN cur ON cur.id = r.id WHERE r.kcore <> cur.c"
    ).fetchone()[0]
    n_result = con.execute(
        f"SELECT count(*) FROM read_parquet('{base}/kcore_result/*.parquet')"
    ).fetchone()[0]
    assert n_result == VERTICES
    assert diff == 0, f"{diff} vertices with mismatched core number"


@pytest.mark.scale
def test_pagerank_18m_parity_vs_duckdb_iteration(spark_big, tier18m, tmp_path):
    """Fixed-iteration PageRank on the 18M-edge tier vs an independent
    DuckDB replay of the delta iteration (reset 0.15, alpha 0.85, raw
    directed edges, dangling mass lost then fixed by the final
    normalization — the operator's documented semantics). 8 supersteps,
    tol 0 so participation pruning cannot change the math; parity bar is
    per-vertex |diff| <= 1e-12 on normalized ranks (mean rank is 1/6M ~
    1.7e-7, double-precision reduction-order noise is ~1e-15 here, so
    1e-12 is ~5 decimal digits of headroom while still catching any
    semantic divergence)."""
    spark = spark_big
    base = tier18m
    iters = 8
    vertices = spark.range(VERTICES).select(F.col("id"))
    g = GraphFrame(vertices, spark.read.parquet(base + "/edges"))
    result = (
        g.page_rank()
        .max_iterations(iters)
        .with_tol(0.0)
        .set_checkpoint_dir(str(tmp_path / "pr_ckpt"))
        .run()
    )
    result.write.mode("overwrite").parquet(base + "/pr_result")

    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE e AS SELECT src, dst "
        f"FROM read_parquet('{base}/edges/*.parquet')"
    )
    con.execute(
        "CREATE TABLE outdeg AS SELECT src AS id, count(*) AS deg "
        "FROM e GROUP BY 1"
    )
    con.execute(
        f"CREATE TABLE st AS SELECT range AS id, 0.15 AS p, 0.15 AS d "
        f"FROM range({VERTICES})"
    )
    for _ in range(iters):
        con.execute(
            "CREATE OR REPLACE TABLE st AS "
            "SELECT st.id, st.p + 0.85 * coalesce(m.s, 0) AS p, "
            "0.85 * coalesce(m.s, 0) AS d "
            "FROM st LEFT JOIN ("
            "  SELECT e.dst AS id, sum(st2.d / od.deg) AS s "
            "  FROM e JOIN st st2 ON st2.id = e.src "
            "  JOIN outdeg od ON od.id = e.src GROUP BY e.dst"
            ") m ON m.id = st.id"
        )
    worst = con.execute(
        f"SELECT max(abs(r.pagerank - st.p / t.tot)) FROM "
        f"read_parquet('{base}/pr_result/*.parquet') r "
        f"JOIN st ON st.id = r.id, "
        f"(SELECT sum(p) AS tot FROM st) t"
    ).fetchone()[0]
    n_result = con.execute(
        f"SELECT count(*) FROM read_parquet('{base}/pr_result/*.parquet')"
    ).fetchone()[0]
    assert n_result == VERTICES
    assert worst <= 1e-12, f"max per-vertex rank divergence {worst}"
