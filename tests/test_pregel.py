"""Pregel engine semantics tests, mirroring reference pregel.rs:628-967."""

import pytest
from pyspark.sql import functions as F

from graphframes_rs_spark import GraphFrame, MessageDirection, Pregel


def chain_graph(spark):
    """1 -> 2 -> 3 -> 4 (reference chain fixture, pregel.rs:768-839)."""
    v = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    return GraphFrame(v, e)


def test_chain_propagation_converges_in_4_supersteps(spark, ckpt_dir):
    """Propagate max value down the chain; voting stops the loop exactly when
    nothing changes any more."""
    g = chain_graph(spark)
    b = (
        g.pregel()
        .add_vertex_column("val", F.col("id"), F.greatest(F.col("val"), F.coalesce(Pregel.msg(), F.lit(0))))
        .add_message(Pregel.src("val"), MessageDirection.SRC_TO_DST)
        .add_aggregate_expr(F.max(Pregel.msg()))
        .with_vertex_voting(
            "active", F.greatest(F.col("val"), F.coalesce(Pregel.msg(), F.lit(0))) != F.col("val")
        )
        .max_iterations(100)
        .set_checkpoint_dir(ckpt_dir)
    )
    result = b.run()
    vals = {r["id"]: r["val"] for r in result.collect()}
    # every vertex ends with the max over its ancestors (itself included):
    # chain is increasing so val == id
    assert vals == {1: 1, 2: 2, 3: 3, 4: 4}

    # now the decreasing direction: propagate from 4 backwards (DST_TO_SRC)
    b2 = (
        g.pregel()
        .add_vertex_column("val", F.col("id"), F.greatest(F.col("val"), F.coalesce(Pregel.msg(), F.lit(0))))
        .add_message(Pregel.dst("val"), MessageDirection.DST_TO_SRC)
        .add_aggregate_expr(F.max(Pregel.msg()))
        .with_vertex_voting(
            "active", F.greatest(F.col("val"), F.coalesce(Pregel.msg(), F.lit(0))) != F.col("val")
        )
        .max_iterations(100)
        .set_checkpoint_dir(ckpt_dir + "2")
    )
    vals2 = {r["id"]: r["val"] for r in b2.run().collect()}
    assert vals2 == {1: 4, 2: 4, 3: 4, 4: 4}
    # 4 supersteps: 3 to reach vertex 1, +1 to detect no change
    assert b2.iterations_ == 4


def test_self_loop_message_delivered(spark, ckpt_dir):
    """Single vertex with edge (1,1): message is delivered to self
    (pregel.rs:719-742)."""
    v = spark.createDataFrame([(1,)], "id long")
    e = spark.createDataFrame([(1, 1)], "src long, dst long")
    b = (
        GraphFrame(v, e)
        .pregel()
        .add_vertex_column("cnt", F.lit(0), F.col("cnt") + F.coalesce(Pregel.msg(), F.lit(0)))
        .add_message(F.lit(1), MessageDirection.SRC_TO_DST)
        .add_aggregate_expr(F.sum(Pregel.msg()))
        .max_iterations(3)
        .set_checkpoint_dir(ckpt_dir)
    )
    out = b.run().collect()
    assert out[0]["cnt"] == 3


def test_no_edges_coalesce_path(spark, ckpt_dir):
    """Vertices but no edges: no messages are ever delivered; updates see
    NULL msg (pregel.rs:744-766)."""
    v = spark.createDataFrame([(1,), (2,)], "id long")
    e = spark.createDataFrame([], "src long, dst long")
    b = (
        GraphFrame(v, e)
        .pregel()
        .add_vertex_column(
            "val", F.lit(7), F.coalesce(Pregel.msg(), F.col("val"))
        )
        .add_message(Pregel.src("val"), MessageDirection.SRC_TO_DST)
        .add_aggregate_expr(F.max(Pregel.msg()))
        .max_iterations(2)
        .set_checkpoint_dir(ckpt_dir)
    )
    out = b.run()
    assert sorted(r["val"] for r in out.collect()) == [7, 7]


def test_named_message_aggregation_isolation(spark, ckpt_dir):
    """Two named messages with different aggregates must not leak into each
    other (fan-out fixture + union-by-name proof, pregel.rs:850-929)."""
    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    e = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "src long, dst long")
    b = (
        GraphFrame(v, e)
        .pregel()
        .add_vertex_column("s", F.lit(0), F.coalesce(Pregel.msg("a"), F.lit(-1)))
        .add_vertex_column("m", F.lit(0), F.coalesce(Pregel.msg("b"), F.lit(-1)))
        .add_named_message("a", Pregel.src("id") * 10, MessageDirection.SRC_TO_DST)
        .add_named_message("b", Pregel.src("id") + 100, MessageDirection.SRC_TO_DST)
        .add_named_aggregate_expr("a", F.sum(Pregel.msg("a")))
        .add_named_aggregate_expr("b", F.max(Pregel.msg("b")))
        .max_iterations(1)
        .set_checkpoint_dir(ckpt_dir)
    )
    out = {r["id"]: (r["s"], r["m"]) for r in b.run().collect()}
    # vertex 2 receives from 1: sum(10)=10, max(101)=101
    # vertex 3 receives from 1 and 2: sum(10+20)=30, max(101,102)=102
    # vertex 1 receives nothing: (-1, -1)
    assert out == {1: (-1, -1), 2: (10, 101), 3: (30, 102)}


def test_zero_iterations_returns_initialized_schema(spark, ckpt_dir):
    v = spark.createDataFrame([(1,), (2,)], "id long")
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    b = (
        GraphFrame(v, e)
        .pregel()
        .add_vertex_column("x", F.lit(5), F.col("x"))
        .add_message(Pregel.src("x"), MessageDirection.SRC_TO_DST)
        .add_aggregate_expr(F.sum(Pregel.msg()))
        .max_iterations(0)
        .set_checkpoint_dir(ckpt_dir)
    )
    out = b.run()
    assert out.columns == ["id", "x"]
    assert sorted(r["x"] for r in out.collect()) == [5, 5]
    assert b.iterations_ == 0


def test_bidirectional_ring_soak(spark, ckpt_dir):
    """Ring of 8 with bidirectional messages: each vertex doubles its value
    each superstep (2 in-neighbours, sum agg); 6 supersteps -> 64
    (soak pattern of pregel.rs:931-967)."""
    n = 8
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    b = (
        GraphFrame(v, e)
        .pregel()
        .add_vertex_column("val", F.lit(1), F.coalesce(Pregel.msg(), F.lit(0)))
        .add_message(Pregel.src("val"), MessageDirection.SRC_TO_DST)
        .add_message(Pregel.dst("val"), MessageDirection.DST_TO_SRC)
        .add_aggregate_expr(F.sum(Pregel.msg()))
        .max_iterations(6)
        .set_checkpoint_dir(ckpt_dir)
    )
    out = b.run().collect()
    assert [r["val"] for r in out] == [64] * n


def test_participation_prunes_messages(spark, ckpt_dir):
    """Only participating sources send when skip_dest_state is on."""
    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    e = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    b = (
        GraphFrame(v, e)
        .pregel()
        .add_vertex_column(
            "got", F.lit(0), F.col("got") + F.coalesce(Pregel.msg(), F.lit(0))
        )
        .with_participation_column("part", F.col("id") == 1, F.col("part"))
        .add_message(F.lit(1), MessageDirection.SRC_TO_DST)
        .add_aggregate_expr(F.sum(Pregel.msg()))
        .skip_dest_state()
        .max_iterations(1)
        .set_checkpoint_dir(ckpt_dir)
    )
    out = {r["id"]: r["got"] for r in b.run().collect()}
    # only vertex 1 participates -> vertex 3 receives exactly one message
    assert out == {1: 0, 2: 0, 3: 1}


def test_validation_errors(spark):
    v = spark.createDataFrame([(1,)], "id long")
    e = spark.createDataFrame([(1, 1)], "src long, dst long")
    g = GraphFrame(v, e)
    with pytest.raises(ValueError, match="at least one message"):
        g.pregel().max_iterations(1).run()
    with pytest.raises(ValueError, match="missing aggregate"):
        g.pregel().add_message(F.lit(1), MessageDirection.SRC_TO_DST).max_iterations(1).run()
    with pytest.raises(ValueError, match="max_iterations"):
        g.pregel().add_message(F.lit(1), MessageDirection.SRC_TO_DST).add_aggregate_expr(
            F.sum(Pregel.msg())
        ).run()
    runnable = (
        g.pregel()
        .add_message(F.lit(1), MessageDirection.SRC_TO_DST)
        .add_aggregate_expr(F.sum(Pregel.msg()))
        .max_iterations(1)
    )
    with pytest.raises(ValueError, match=">= 1"):
        runnable.with_checkpoint_interval(0)
    key = "spark.graphframes.pregel.checkpointInterval"
    for bad in ("0", "-3", "abc"):
        spark.conf.set(key, bad)
        try:
            with pytest.raises(ValueError, match=key):
                runnable.run()
        finally:
            spark.conf.unset(key)


def test_materialized_edges_rejects_edge_columns(spark):
    from pyspark.sql import functions as F

    from graphframes_rs_spark import GraphFrame, MessageDirection, Pregel

    v = spark.createDataFrame([(0,), (1,)], "id long")
    e = spark.createDataFrame([(0, 1, 2.0)], "src long, dst long, w double")
    b = (
        GraphFrame(v, e)
        .pregel()
        .max_iterations(1)
        .add_vertex_column("x", F.lit(0), F.coalesce(Pregel.msg(), F.lit(0)))
        .add_edge_column("w")
        .add_message(Pregel.src("x") + 1, MessageDirection.SRC_TO_DST)
        .add_aggregate_expr(F.max(Pregel.msg()))
        .with_materialized_edges()
    )
    with pytest.raises(ValueError, match="materialized_edges"):
        b.run()


def test_bidirectional_message_undirected_degree(spark, ckpt_dir):
    """BIDIRECTIONAL emits to both endpoints: one superstep of counting
    1-per-edge messages yields the undirected degree."""
    from pyspark.sql import functions as F

    from graphframes_rs_spark import GraphFrame, MessageDirection, Pregel

    v = spark.createDataFrame([(i,) for i in range(4)], "id long")
    # path 0-1-2 plus pendant 2-3: degrees 1,2,2,1
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    out = (
        GraphFrame(v, e)
        .pregel()
        .max_iterations(1)
        .add_vertex_column(
            "deg", F.lit(0), F.coalesce(Pregel.msg(), F.lit(0)).cast("long")
        )
        .add_message(F.lit(1), MessageDirection.BIDIRECTIONAL)
        .add_aggregate_expr(F.sum(Pregel.msg()))
        .set_checkpoint_dir(ckpt_dir)
        .run()
    )
    assert {r["id"]: r["deg"] for r in out.collect()} == {0: 1, 1: 2, 2: 2, 3: 1}


def test_checkpoint_interval_equivalence(spark, tmp_path):
    """k=2 must produce identical results to k=1 (write-every-superstep),
    for both fixed-iteration and voting-terminated runs."""
    from graphframes_rs_spark.sources.graphs import lineitem_graph

    g = lineitem_graph(spark, "/root/testdata/sf0.001")

    pr1 = (
        g.page_rank().max_iterations(5)
        .set_checkpoint_dir(str(tmp_path / "a")).run()
    )
    spark.conf.set("spark.graphframes.pregel.checkpointInterval", "2")
    try:
        pr2 = (
            g.page_rank().max_iterations(5)
            .set_checkpoint_dir(str(tmp_path / "b")).run()
        )
        k2 = g.k_core().set_checkpoint_dir(str(tmp_path / "c")).run()
    finally:
        spark.conf.unset("spark.graphframes.pregel.checkpointInterval")
    k1 = g.k_core().set_checkpoint_dir(str(tmp_path / "d")).run()

    a = {(r["id"], round(r["pagerank"], 9)) for r in pr1.collect()}
    b = {(r["id"], round(r["pagerank"], 9)) for r in pr2.collect()}
    assert a == b
    assert {tuple(r) for r in k1.collect()} == {tuple(r) for r in k2.collect()}


def test_checkpoint_interval_exact_voting_non_monotone(spark, tmp_path):
    """Voting under interval k>1 must be EXACT even for non-monotone
    programs: a counter that keeps incrementing after its voting condition
    goes false would drift by up to k-1 rounds if voting were only visible
    on write supersteps. The engine observes every superstep and rolls back
    to the cached fixpoint state, so x and iterations_ match k=1 exactly."""
    v = spark.createDataFrame([(i,) for i in range(1, 4)], "id long")
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    g = GraphFrame(v, e)

    def run(interval, d):
        b = (
            g.pregel()
            .add_vertex_column("x", F.lit(0), F.col("x") + F.lit(1))
            .add_message(F.lit(1), MessageDirection.SRC_TO_DST)
            .add_aggregate_expr(F.sum(Pregel.msg()))
            # active while x (post-update) < 3: fixpoint is superstep 3,
            # which is NOT a write superstep for interval 2 or 4
            .with_vertex_voting("active", (F.col("x") + F.lit(1)) < F.lit(3))
            .max_iterations(50)
            .with_checkpoint_interval(interval)
            .set_checkpoint_dir(str(tmp_path / d))
        )
        out = {r["id"]: r["x"] for r in b.run().collect()}
        return out, b.iterations_

    x1, it1 = run(1, "k1")
    assert x1 == {1: 3, 2: 3, 3: 3} and it1 == 3
    for k in (2, 4):
        xk, itk = run(k, f"k{k}x")
        assert xk == x1, f"interval {k} changed results: {xk}"
        assert itk == it1, f"interval {k} changed iterations_: {itk}"


def test_checkpoint_interval_exact_tol_pagerank(spark, tmp_path):
    """Tol-mode (convergence) PageRank: values keep moving past the voting
    fixpoint, so interval>1 without rollback would return different ranks
    and a larger iterations_. With exact voting both must match k=1."""
    from graphframes_rs_spark.sources.graphs import lineitem_graph

    g = lineitem_graph(spark, "/root/testdata/sf0.001")

    b1 = g.page_rank().with_tol(0.001).set_checkpoint_dir(str(tmp_path / "a"))
    r1 = {(row["id"], round(row["pagerank"], 12)) for row in b1.run().collect()}
    spark.conf.set("spark.graphframes.pregel.checkpointInterval", "3")
    try:
        b3 = g.page_rank().with_tol(0.001).set_checkpoint_dir(str(tmp_path / "b"))
        r3 = {(row["id"], round(row["pagerank"], 12)) for row in b3.run().collect()}
    finally:
        spark.conf.unset("spark.graphframes.pregel.checkpointInterval")
    assert r1 == r3
    assert b1.iterations_ == b3.iterations_
