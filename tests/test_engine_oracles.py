"""PageRank, WCC and BFS checked against independent oracles, in-repo.

Reuses the benchmark's workload definitions (``perfbench/workloads.py``):
each case runs a workload's ``run`` on a small graph, computes its
``oracle`` from the graph's parquet with numpy, outside Spark, and asserts
that ``check`` finds no mismatch, so the benchmark and this suite judge
correctness the same way. The cases are small seeded generated graphs, one
hand-built graph with the degenerate shapes (a self-loop, duplicate edges,
an isolated vertex, vertices with no in-edges), and a graph with no edges.
"""

import os
import sys

import pytest

from graphframes_rs_spark import GraphFrame
from graphframes_rs_spark.operators.connected_components import LOCAL_FINISH_EDGES
from graphframes_rs_spark.sources.graphs import load_graph, save_graph

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import workloads  # noqa: E402

SCALE, SEED = 0.005, 1
ALL = ["pagerank_uniform", "wcc_powerlaw", "sssp_lineitem"]
# 0 and 6 have no in-edges, 2 has a self-loop, 1->2 is doubled, 7 is
# isolated, 3-4-5 is a cycle; landmarks 1, 2 and 3 all exist
HAND_BUILT = (
    range(8),
    [(0, 1), (1, 2), (1, 2), (2, 2), (2, 3), (3, 4), (4, 5), (5, 3), (6, 5)],
)
NO_EDGES = (range(5), [])


def _save(spark, graph, out_dir):
    vertices, edges = graph
    save_graph(
        GraphFrame(
            spark.createDataFrame([(v,) for v in vertices], "id long"),
            spark.createDataFrame(edges, "src long, dst long"),
        ),
        out_dir,
    )


INPUTS = {
    "uniform": lambda spark, d: workloads.gen_uniform(spark, d, SEED, SCALE),
    "powerlaw": lambda spark, d: workloads.gen_powerlaw(spark, d, SEED, SCALE),
    "hand_built": lambda spark, d: _save(spark, HAND_BUILT, d),
    "no_edges": lambda spark, d: _save(spark, NO_EDGES, d),
}


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    """The parquet directory of one input graph, written once per module."""
    root, made = tmp_path_factory.mktemp("engine_oracles"), {}

    def get(kind):
        if kind not in made:
            made[kind] = str(root / kind)
            INPUTS[kind](spark, made[kind])
        return made[kind]

    return get


def _assert_matches_oracle(spark, name, in_dir, ckpt_dir, conf=None):
    wl = workloads.WORKLOADS[name]
    expected = wl.oracle(*workloads.load_arrays(in_dir))
    for key, value in (conf or {}).items():
        spark.conf.set(key, value)
    try:
        out = wl.run(load_graph(spark, in_dir), ckpt_dir).toPandas()
    finally:
        for key in conf or {}:
            spark.conf.unset(key)
    assert wl.check(out, expected) is None


@pytest.mark.parametrize(
    "name,kind,conf",
    [
        ("pagerank_uniform", "uniform", None),
        ("wcc_powerlaw", "powerlaw", None),
        ("wcc_powerlaw", "powerlaw", {LOCAL_FINISH_EDGES: "0"}),  # distributed rounds only
    ],
    ids=["pagerank_uniform", "wcc_powerlaw", "wcc_powerlaw-distributed"],
)
def test_generated_graph_matches_oracle(spark, input_dir, tmp_path, name, kind, conf):
    _assert_matches_oracle(spark, name, input_dir(kind), str(tmp_path / "ckpt"), conf)


@pytest.mark.parametrize("name", ALL)
def test_hand_built_graph_matches_oracle(spark, input_dir, tmp_path, name):
    _assert_matches_oracle(spark, name, input_dir("hand_built"), str(tmp_path / "ckpt"))


@pytest.mark.parametrize("name", ALL)
def test_empty_edge_set_matches_oracle(spark, input_dir, tmp_path, name):
    _assert_matches_oracle(spark, name, input_dir("no_edges"), str(tmp_path / "ckpt"))
