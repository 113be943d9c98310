"""The benchmark's three workloads: seeded input generation, the algorithm
run, and the check of its output against an independent oracle.

Inputs are generated by Spark SQL from 64-bit hashes salted with the CLI
seed (the same hash-based recipe as ``bench.py``'s scale tiers), written to
parquet, and re-read: the library sees only parquet. The oracles read the
same parquet files with pyarrow, outside Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable, Dict, Optional

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import oracles

LANDMARKS = [1, 2, 3]
PAGERANK_SUPERSTEPS = 10
# the two parquet directories of one input graph (``sources.graphs``'
# save_graph/load_graph layout)
VERTICES, EDGES = "vertices", "edges"


def _salt(seed: int, k: int) -> int:
    return (seed % (1 << 31)) * 16 + k


def _write(vertices, edges, out_dir: str) -> None:
    from graphframes_rs_spark import GraphFrame
    from graphframes_rs_spark.sources.graphs import save_graph

    save_graph(GraphFrame(vertices, edges), out_dir, mode="overwrite")


def gen_uniform(spark, out_dir: str, seed: int, scale: float) -> None:
    """Uniform random multigraph: 50k vertices, 200k edges at scale 1."""
    from pyspark.sql import functions as F

    v, e = int(50_000 * scale), int(200_000 * scale)
    edges = spark.range(e).select(
        F.pmod(F.xxhash64("id", F.lit(_salt(seed, 1))), F.lit(v)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(_salt(seed, 2))), F.lit(v)).alias("dst"),
    )
    _write(spark.range(v), edges, out_dir)


def gen_powerlaw(spark, out_dir: str, seed: int, scale: float) -> None:
    """75k vertices, 300k edges at scale 1; uniform sources, destinations
    drawn as floor(V * u^4) (inverse-transform power law: mass concentrates
    on low ids with a heavy tail, one giant component)."""
    from pyspark.sql import functions as F

    v, e = int(75_000 * scale), int(300_000 * scale)
    u = (
        F.pmod(F.xxhash64("id", F.lit(_salt(seed, 3))), F.lit(1 << 30)) + F.lit(0.5)
    ) / F.lit(float(1 << 30))
    edges = spark.range(e).select(
        F.pmod(F.xxhash64("id", F.lit(_salt(seed, 1))), F.lit(v)).alias("src"),
        F.floor(F.lit(v) * F.pow(u, F.lit(4.0))).cast("long").alias("dst"),
    )
    _write(spark.range(v), edges, out_dir)


def gen_lineitem(spark, out_dir: str, seed: int, scale: float) -> None:
    """A TPC-H-shaped ``lineitem`` table (120k lines over 30k orders and 200
    suppliers at scale 1; each line picks its order and supplier uniformly),
    turned into the library's orders-suppliers graph by
    ``sources.graphs.lineitem_graph`` and symmetrized."""
    from pyspark.sql import functions as F

    from graphframes_rs_spark.sources.graphs import lineitem_graph

    lines = int(120_000 * scale)
    orders, suppliers = lines // 4, max(lines // 600, 1)
    table_dir = os.path.join(out_dir, "tables")
    spark.range(lines).select(
        F.pmod(F.xxhash64("id", F.lit(_salt(seed, 4))), F.lit(orders)).alias(
            "l_orderkey"
        ),
        F.pmod(F.xxhash64("id", F.lit(_salt(seed, 5))), F.lit(suppliers)).alias(
            "l_suppkey"
        ),
    ).write.mode("overwrite").parquet(os.path.join(table_dir, "lineitem.parquet"))
    g = lineitem_graph(spark, table_dir)
    both_ways = g.edges.select("src", "dst").unionByName(
        g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    _write(g.vertices, both_ways, out_dir)


def load_arrays(in_dir: str):
    """(sorted vertex ids, src, dst) as int64 numpy arrays, via pyarrow."""
    ids = pq.read_table(os.path.join(in_dir, VERTICES)).column("id")
    edges = pq.read_table(os.path.join(in_dir, EDGES), columns=["src", "dst"])
    return (
        np.sort(ids.to_numpy().astype(np.int64)),
        edges.column("src").to_numpy().astype(np.int64),
        edges.column("dst").to_numpy().astype(np.int64),
    )


def _by_id(out: pd.DataFrame, ids: np.ndarray) -> Optional[pd.DataFrame]:
    out = out.sort_values("id", kind="stable").reset_index(drop=True)
    if len(out) != len(ids) or not np.array_equal(out["id"].to_numpy(), ids):
        return None
    return out


def check_pagerank(out: pd.DataFrame, expected) -> Optional[str]:
    ids, ranks = expected
    out = _by_id(out, ids)
    if out is None:
        return "vertex set differs from the input"
    got = out["pagerank"].to_numpy(dtype=np.float64)
    if abs(got.sum() - 1.0) > 1e-9:
        return f"ranks sum to {got.sum()!r}, not 1"
    err = np.abs(got - ranks).max(initial=0.0)
    return None if err <= 1e-9 else f"max per-vertex rank error {err:.3g}"


def check_components(out: pd.DataFrame, expected) -> Optional[str]:
    ids, labels = expected
    out = _by_id(out, ids)
    if out is None:
        return "vertex set differs from the input"
    bad = int((out["component"].to_numpy() != labels).sum())
    return None if bad == 0 else f"{bad} vertices carry a wrong component"


def check_distances(out: pd.DataFrame, expected) -> Optional[str]:
    ids, dists = expected
    out = _by_id(out, ids)
    if out is None:
        return "vertex set differs from the input"
    for lm, want in dists.items():
        bad = int((out[f"dist_{lm}"].to_numpy() != want).sum())
        if bad:
            return f"{bad} vertices carry a wrong distance to {lm}"
    return None


@dataclass(frozen=True)
class Workload:
    name: str
    generate: Callable  # (spark, out_dir, seed, scale) -> None
    run: Callable  # (GraphFrame, checkpoint_dir) -> DataFrame
    oracle: Callable  # (ids, src, dst) -> expected
    check: Callable  # (pandas output, expected) -> None | mismatch text


WORKLOADS: Dict[str, Workload] = {
    w.name: w
    for w in [
        Workload(
            "pagerank_uniform",
            gen_uniform,
            lambda g, d: g.page_rank()
            .max_iterations(PAGERANK_SUPERSTEPS)
            .set_checkpoint_dir(d)
            .run(),
            lambda ids, s, t: (
                ids,
                oracles.delta_pagerank(ids, s, t, supersteps=PAGERANK_SUPERSTEPS),
            ),
            check_pagerank,
        ),
        Workload(
            "wcc_powerlaw",
            gen_powerlaw,
            lambda g, d: g.connected_components().set_checkpoint_dir(d).run(),
            lambda ids, s, t: (ids, oracles.min_label_components(ids, s, t)),
            check_components,
        ),
        Workload(
            "sssp_lineitem",
            gen_lineitem,
            lambda g, d: g.shortest_paths(LANDMARKS).set_checkpoint_dir(d).run(),
            lambda ids, s, t: (
                ids,
                {lm: oracles.bfs_distances(ids, s, t, lm) for lm in LANDMARKS},
            ),
            check_distances,
        ),
    ]
}
