"""Tests of the benchmark itself: oracles, tracer, metric names, output.

    python3 -m pytest perfbench/tests -q

Run from the repository root. The oracle tests on real data need the sf0.001
table directory (``lineitem.parquet``) named by ``PERFBENCH_SF_DIR`` and are
skipped without it; the last of them also starts a small Spark session.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys
from argparse import Namespace

import networkx as nx
import numpy as np
import pyarrow.parquet as pq
import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)
sys.path.insert(0, ROOT)

import oracles  # noqa: E402
import run  # noqa: E402
import tracer  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SF_DIR = os.environ.get("PERFBENCH_SF_DIR")
needs_sf = pytest.mark.skipif(
    not SF_DIR or not os.path.isdir(SF_DIR), reason="PERFBENCH_SF_DIR not set"
)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- oracles on hand-checked graphs -----------------------------------------


def test_bfs_path_and_unreachable():
    ids = np.array([1, 2, 3, 4, 9])
    src, dst = np.array([1, 2, 3]), np.array([2, 3, 4])
    assert oracles.bfs_distances(ids, src, dst, 1).tolist() == [
        0, 1, 2, 3, oracles.INT_MAX,
    ]
    # edges are directed; an absent landmark reaches nothing
    assert oracles.bfs_distances(ids, src, dst, 4)[0] == oracles.INT_MAX
    assert (oracles.bfs_distances(ids, src, dst, 7) == oracles.INT_MAX).all()


def test_components_min_labels():
    ids = np.array([3, 5, 7, 8, 10, 11])
    src, dst = np.array([10, 7, 8]), np.array([5, 8, 7])
    assert oracles.min_label_components(ids, src, dst).tolist() == [
        3, 5, 7, 7, 5, 11,
    ]


def test_pagerank_two_cycle_is_uniform():
    ranks = oracles.delta_pagerank(np.array([0, 1]), np.array([0, 1]), np.array([1, 0]))
    assert ranks.tolist() == pytest.approx([0.5, 0.5], abs=1e-15)


def test_oracle_rejects_dangling_edge():
    with pytest.raises(ValueError):
        oracles.min_label_components(np.array([1, 2]), np.array([1]), np.array([5]))


# -- oracles against second references on sf0.001 ---------------------------


def _lineitem_arrays():
    """The symmetrized orders-suppliers graph of ``lineitem`` (the
    derivation of ``sources.graphs.lineitem_graph``), built with pyarrow."""
    t = pq.read_table(
        os.path.join(SF_DIR, "lineitem.parquet"), columns=["l_orderkey", "l_suppkey"]
    )
    o = t.column("l_orderkey").to_numpy().astype(np.int64)
    s = t.column("l_suppkey").to_numpy().astype(np.int64) + 10_000_000
    pairs = np.unique(np.stack([o, s], axis=1), axis=0)
    src = np.concatenate([pairs[:, 0], pairs[:, 1]])
    dst = np.concatenate([pairs[:, 1], pairs[:, 0]])
    return np.unique(np.concatenate([src, dst])), src, dst


def _loop_pagerank(ids, src, dst, reset=0.15, tol=0.01, steps=10):
    """Delta PageRank as a plain loop over edges (the reference the
    vectorized oracle must equal)."""
    out = {v: 0 for v in ids.tolist()}
    for a in src.tolist():
        out[a] += 1
    rank = {v: reset for v in out}
    delta = dict(rank)
    sending = {v: True for v in out}
    for _ in range(steps):
        msg = {v: 0.0 for v in out}
        for a, b in zip(src.tolist(), dst.tolist()):
            if sending[a]:
                msg[b] += delta[a] / out[a]
        delta = {v: (1 - reset) * msg[v] for v in out}
        rank = {v: rank[v] + delta[v] for v in out}
        sending = {v: delta[v] > tol for v in out}
    total = sum(rank.values())
    return np.array([rank[v] / total for v in ids.tolist()])


@needs_sf
def test_oracles_match_networkx_and_loop_on_sf0001():
    ids, src, dst = _lineitem_arrays()
    g = nx.DiGraph()
    g.add_nodes_from(ids.tolist())
    g.add_edges_from(zip(src.tolist(), dst.tolist()))

    comp = oracles.min_label_components(ids, src, dst)
    want = {}
    for members in nx.weakly_connected_components(g):
        low = min(members)
        want.update({v: low for v in members})
    assert comp.tolist() == [want[v] for v in ids.tolist()]

    for lm in workloads.LANDMARKS:
        got = oracles.bfs_distances(ids, src, dst, lm)
        hops = nx.single_source_shortest_path_length(g, lm) if lm in g else {}
        assert got.tolist() == [hops.get(v, oracles.INT_MAX) for v in ids.tolist()]

    ranks = oracles.delta_pagerank(ids, src, dst)
    assert math.isclose(ranks.sum(), 1.0, abs_tol=1e-12)
    np.testing.assert_allclose(ranks, _loop_pagerank(ids, src, dst), atol=1e-12)


@needs_sf
def test_engine_matches_oracles_on_sf0001(tmp_path):
    """The checks the benchmark applies to every run accept the engine's
    output on real data, and reject a perturbed copy."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from graphframes_rs_spark import GraphFrame
    from graphframes_rs_spark.sources.graphs import (
        lineitem_graph, load_graph, save_graph,
    )

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", 2)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", str(tmp_path / "wh"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    try:
        g = lineitem_graph(spark, SF_DIR)
        both = g.edges.unionByName(
            g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        in_dir = str(tmp_path / "input")
        save_graph(GraphFrame(g.vertices, both), in_dir)
        graph = load_graph(spark, in_dir)
        ids, src, dst = workloads.load_arrays(in_dir)
        for name, wl in workloads.WORKLOADS.items():
            expected = wl.oracle(ids, src, dst)
            out = wl.run(graph, str(tmp_path / f"ckpt_{name}")).toPandas()
            assert wl.check(out, expected) is None, name
            col = [c for c in out.columns if c != "id"][0]
            out.loc[out.index[0], col] = out[col].iloc[0] + 1
            assert wl.check(out, expected) is not None, name
    finally:
        spark.stop()


# -- tracer -----------------------------------------------------------------


def _span(name, start, end, parent=None, **attrs):
    return {"run": "r", "name": name, "start": start, "end": end,
            "parent": parent, "attrs": attrs}


def test_layer_metrics_from_spans():
    spans = [
        _span("operator.pagerank.run", 0.0, 10.0),
        _span("checkpointer.push_bucketed", 0.5, 1.5, 0),
        _span("pregel.run", 2.0, 9.0, 0, iterations=4),
        _span("checkpointer.push_bucketed", 2.0, 4.0, 2),
        _span("checkpointer.push_partitioned", 5.0, 7.0, 2),
        _span("checkpointer.push", 5.1, 7.0, 4),
        _span("checkpointer.evict_all_but_latest", 7.0, 7.5, 2),
        _span("checkpointer.evict", 7.0, 7.4, 6),
    ]
    m = tracer.layer_metrics(spans, job_s=11.0)
    assert m["pregel.run_s"] == 7.0
    assert m["pregel.supersteps"] == 4
    assert m["pregel.superstep_s"] == 1.75
    assert m["pregel.driver_s"] == pytest.approx(7.0 - 4.5)
    assert m["operator.prep_s"] == 4.0
    assert m["checkpointer.push_calls"] == 3  # nested push is not a new one
    assert m["checkpointer.push_s"] == pytest.approx(5.0)
    assert m["checkpointer.evict_calls"] == 1
    assert m["connected_components.rounds"] == 0
    assert set(m) <= set(run.PER_LAYER_UNITS)


def test_components_phases():
    spans = [
        _span("operator.connected_components.run", 0.0, 5.0, iterations=3,
              phases=[["prep", 100, 1.0], ["round", 100, 2.0],
                      ["round", 60, 1.0], ["local", 20, 0.5],
                      ["backprop+final", None, 0.25]]),
    ]
    m = tracer.layer_metrics(spans, job_s=5.5)
    assert m["connected_components.rounds"] == 3
    assert m["connected_components.round_s"] == 3.0
    assert m["connected_components.local_s"] == 0.5
    assert m["connected_components.backprop_s"] == 0.25
    assert m["connected_components.edges_contracted"] == 180
    assert m["pregel.run_s"] == 0 and m["operator.prep_s"] == 5.5


def test_tracer_wraps_and_restores():
    from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer

    before = ParquetCheckpointer.__dict__["push"]
    t = tracer.Tracer()
    with t.tracing("r1"):
        assert ParquetCheckpointer.__dict__["push"] is not before
        with t.span("outer"):
            with t.span("inner"):
                pass
    assert ParquetCheckpointer.__dict__["push"] is before
    spans = t.run_spans("r1")
    assert [s["name"] for s in spans] == ["outer", "inner"]
    assert spans[1]["parent"] == 0
    assert tracer.self_time(spans, 0) <= spans[0]["end"] - spans[0]["start"]


# -- spec and output schema -------------------------------------------------


def test_benchmark_json_matches_the_code():
    spec = _spec()
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def _fake_bench(trace: int) -> run.Bench:
    b = run.Bench(Namespace(trace=trace), workloads.WORKLOADS["wcc_powerlaw"], "")
    b.n_edges = 1000
    layers = {name: 1.0 for name in run.PER_LAYER_UNITS}
    b.runs = [
        {"traced": bool(trace) and i % 2 == 1, "job_s": 2.0 + i, "ok": i != 2,
         "layers": layers}
        for i in range(4)
    ]

    class Counters:
        def peak_rss_mb(self):
            return 512.5

    b.counters = Counters()
    return b


@pytest.mark.parametrize("trace", [0, 1])
def test_result_schema(trace):
    res = _fake_bench(trace).result({"setup_s": 3.5})
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] == 4 and res["failed"] == 1 and res["correct"] is False
    units = run.PER_LAYER_UNITS if trace else run.END_TO_END_UNITS
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    for v in res["metrics"].values():
        assert set(v) == {"value", "unit"}
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
    json.dumps(res)
    if not trace:
        assert res["metrics"]["job_s"]["value"] == 3.0  # median of passing runs
        assert res["metrics"]["edges_per_s"]["value"] == pytest.approx(1000 / 3.0)


def test_fails_cleanly_without_the_library(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    and prints no result."""
    shutil.copytree(PERFBENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = _spec()["command"] + [
        "--workload", "wcc_powerlaw", "--seed", "1", "--seconds", "1",
        "--trace", "0",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(cmd, cwd=tmp_path, env=env, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
    assert not (tmp_path / run.WORK_DIR).exists()
