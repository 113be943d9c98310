"""Borůvka minimum spanning forest + landmark closeness/harmonic."""

import math
import os

import pytest
from pyspark.sql import functions as F

from graphframes_rs_spark.graphframe import GraphFrame, symmetrize_edges


def _graph(spark, edges, n_vertices=None):
    vids = sorted({u for u, v, _ in edges} | {v for u, v, _ in edges})
    if n_vertices is not None:
        vids = list(range(n_vertices))
    v = spark.createDataFrame([(i,) for i in vids], "id long")
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    return GraphFrame(v, e)


def _mst_edges(g, ckpt_dir):
    out = g.minimum_spanning_forest().set_checkpoint_dir(ckpt_dir).run()
    return {(r.src, r.dst, r.weight) for r in out.collect()}


def test_mst_triangle_drops_heaviest(spark, ckpt_dir):
    g = _graph(spark, [(0, 1, 1.0), (1, 2, 2.0), (0, 2, 5.0)])
    assert _mst_edges(g, ckpt_dir) == {(0, 1, 1.0), (1, 2, 2.0)}


def test_mst_classic_kruskal_example(spark, ckpt_dir):
    # Wikipedia's canonical example graph: unique MST of weight 39.
    edges = [
        (0, 1, 7.0), (0, 3, 5.0), (1, 2, 8.0), (1, 3, 9.0), (1, 4, 7.0),
        (2, 4, 5.0), (3, 4, 15.0), (3, 5, 6.0), (4, 5, 8.0), (4, 6, 9.0),
        (5, 6, 11.0),
    ]
    got = _mst_edges(_graph(spark, edges), ckpt_dir)
    assert got == {
        (0, 3, 5.0), (3, 5, 6.0), (0, 1, 7.0), (1, 4, 7.0), (2, 4, 5.0),
        (4, 6, 9.0),
    }
    assert sum(w for _, _, w in got) == 39.0


def test_mst_forest_and_parallel_edges(spark, ckpt_dir):
    # Two components; a parallel pair where only the lighter copy counts;
    # a self-loop that must be ignored. Component B is a 4-cycle -> drops
    # its heaviest edge.
    edges = [
        (0, 1, 3.0), (1, 0, 1.0), (2, 2, 0.5),           # comp A + loop
        (10, 11, 1.0), (11, 12, 2.0), (12, 13, 3.0), (10, 13, 4.0),  # cycle
    ]
    got = _mst_edges(_graph(spark, edges), ckpt_dir)
    assert got == {
        (0, 1, 1.0),
        (10, 11, 1.0), (11, 12, 2.0), (12, 13, 3.0),
    }


def test_mst_chain_contraction_terminates(spark, ckpt_dir):
    # Increasing-weight path: every round each component's min edge points
    # "left", producing the deepest hook chains the pointer jumper sees.
    n = 33
    edges = [(i, i + 1, float(i + 1)) for i in range(n - 1)]
    got = _mst_edges(_graph(spark, edges), ckpt_dir)
    assert got == {(i, i + 1, float(i + 1)) for i in range(n - 1)}


def test_mst_duplicate_weights_deterministic(spark, ckpt_dir):
    # All weights equal: the (weight, src, dst) tie-break must still yield
    # a spanning tree (n-1 edges), the same one on every run.
    edges = [
        (a, b, 1.0)
        for a in range(6)
        for b in range(a + 1, 6)
    ]
    g = _graph(spark, edges)
    got1 = _mst_edges(g, ckpt_dir)
    got2 = _mst_edges(g, ckpt_dir + "_2")
    assert len(got1) == 5
    assert got1 == got2


def test_closeness_path_graph(spark, ckpt_dir):
    # Undirected path 0-1-2-3, landmarks {0, 3}.
    g = _graph(spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)])
    und = GraphFrame(g.vertices, symmetrize_edges(g.edges, deduplicate=True))
    out = {
        r.id: r
        for r in und.closeness_centrality([0, 3])
        .set_checkpoint_dir(ckpt_dir)
        .run()
        .collect()
    }
    # vertex 0: d(0,3)=3 -> harmonic 1/3, closeness 1/3
    assert out[0].n_reachable == 1
    assert out[0].harmonic == pytest.approx(1 / 3, abs=1e-6)
    assert out[0].closeness == pytest.approx(1 / 3, abs=1e-6)
    # vertex 1: d=1,2 -> harmonic 1.5, closeness 2/3
    assert out[1].n_reachable == 2
    assert out[1].harmonic == pytest.approx(1.5, abs=1e-6)
    assert out[1].closeness == pytest.approx(2 / 3, abs=1e-6)


def test_closeness_unreachable_and_self(spark, ckpt_dir):
    # Directed edge 0->1 only; landmark {0}: vertex 0 is the landmark
    # itself (distance 0 excluded -> all zero), vertex 1 cannot reach 0.
    g = _graph(spark, [(0, 1, 1.0)])
    out = {
        r.id: r
        for r in g.closeness_centrality([0])
        .set_checkpoint_dir(ckpt_dir)
        .run()
        .collect()
    }
    assert out[0].n_reachable == 0 and out[0].closeness == 0.0
    assert out[1].n_reachable == 0 and out[1].harmonic == 0.0


def test_mst_local_and_distributed_paths_agree(spark, ckpt_dir):
    edges = [
        (a, b, float((a * 13 + b * 7) % 19 + 1))
        for a in range(12)
        for b in range(a + 1, 12)
        if (a + b) % 3 != 0
    ]
    g = _graph(spark, edges)
    local = _mst_edges(g, ckpt_dir + "_l")
    prev = spark.conf.get("spark.graphframes.mst.localFinishComponents", None)
    spark.conf.set("spark.graphframes.mst.localFinishComponents", "0")
    try:
        dist = _mst_edges(g, ckpt_dir + "_d")
    finally:
        if prev is None:
            spark.conf.unset("spark.graphframes.mst.localFinishComponents")
        else:
            spark.conf.set("spark.graphframes.mst.localFinishComponents", prev)
    assert local == dist
    assert len(local) == 11  # spanning tree of the single component


def test_eigenvector_star_one_round(spark, ckpt_dir):
    # symmetrized star K1,3: after one L1-normalized round the center
    # holds 3/6 and each leaf 1/6
    g = _graph(spark, [(0, 1, 1.0), (0, 2, 1.0), (0, 3, 1.0)])
    und = GraphFrame(g.vertices, symmetrize_edges(g.edges, deduplicate=True))
    out = {
        r.id: r.eigenvector
        for r in und.eigenvector_centrality()
        .max_iterations(1)
        .set_checkpoint_dir(ckpt_dir)
        .run()
        .collect()
    }
    assert out[0] == pytest.approx(0.5, abs=1e-6)
    assert out[1] == out[2] == out[3] == pytest.approx(1 / 6, abs=1e-6)


def test_eigenvector_dag_drain_raises(spark, ckpt_dir):
    from graphframes_rs_spark.graphframe import GraphFrameError

    g = _graph(spark, [(0, 1, 1.0), (1, 2, 1.0)])
    b = g.eigenvector_centrality().max_iterations(3).set_checkpoint_dir(ckpt_dir)
    with pytest.raises(GraphFrameError, match="zero mass"):
        b.run()


def test_mst_local_msf_finisher_agrees_with_distributed(spark, ckpt_dir):
    """The whole-graph local Borůvka finisher (localFinishEdges) must pick
    the bit-identical forest the distributed rounds pick — including
    under heavy weight TIES, where only an exact replay of the
    (w, u, v, other) total order and the mutual-pair rooting rule keeps
    the two paths aligned."""
    # small weight universe -> many ties; two components
    edges = [
        (a, b, float((a + b) % 4 + 1))
        for a in range(14)
        for b in range(a + 1, 14)
        if (a * b) % 5 != 0
    ] + [(20, 21, 1.0), (21, 22, 1.0), (20, 22, 1.0)]
    g = _graph(spark, edges)

    def run_with(conf_val):
        prev = spark.conf.get("spark.graphframes.mst.localFinishEdges", None)
        spark.conf.set("spark.graphframes.mst.localFinishEdges", conf_val)
        try:
            return _mst_edges(g, ckpt_dir + "_" + conf_val)
        finally:
            if prev is None:
                spark.conf.unset("spark.graphframes.mst.localFinishEdges")
            else:
                spark.conf.set("spark.graphframes.mst.localFinishEdges", prev)

    local = run_with("1000000")  # finisher from round 1
    dist = run_with("0")         # pure distributed rounds
    assert local == dist
    for key, bad in (
        ("spark.graphframes.mst.localFinishEdges", "-1"),
        ("spark.graphframes.mst.localFinishComponents", "1e3"),
    ):
        # a bad value names its key and fails before the first checkpoint
        spark.conf.set(key, bad)
        try:
            with pytest.raises(ValueError, match=key):
                _mst_edges(g, ckpt_dir + "_bad")
        finally:
            spark.conf.unset(key)
        assert not os.path.exists(ckpt_dir + "_bad")
    # forest invariant: |edges| = |touched vertices| - |components| (2 here)
    assert len(local) == len({u for u, v, w in local} | {v for u, v, w in local}) - 2
