"""Verbatim r14-HEAD implementations the r15 optimization round replaced,
kept for interleaved A/B harnesses and before-plan capture (same pattern
as tools/r14_old_impls.py).

``old_wcc_run``: ConnectedComponentsBuilder.run() as of r14 HEAD —
parquet-checkpointed rounds via push_partitioned. The r15 round built a
BUCKETED-checkpoint variant (commit 45f32fc) that removed ~3 edge-scale
Exchanges per round, measured it with tools/exp_r15_wcc_bucketed.py
(parity on 18m, +11% on 54m, **-35% on the power-law skew18m tier**
because bucket-aligned relabel joins forfeit AQE skew-splitting) and
REVERTED it — so at HEAD this function is identical to the shipped
operator again. To reproduce the A/B, run the experiment at 45f32fc.
"""

from __future__ import annotations

import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from graphframes_rs_spark.graphframe import DST, ID, SRC, symmetrize_edges
from graphframes_rs_spark.operators.connected_components import (
    COMPONENT,
    DEFAULT_LOCAL_FINISH_EDGES,
    DEFAULT_REP_DOUBLING,
    LOCAL_FINISH_EDGES,
    REP_DOUBLING,
    _compute_reps,
    _local_components,
    _relabel_edges,
)
from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer


def old_wcc_run(self):
    """r14-HEAD ConnectedComponentsBuilder.run(), verbatim except for the
    dropped join-preference hook (a no-op at default settings)."""
    spark = self.graph.vertices.sparkSession
    ckpt = ParquetCheckpointer(spark, self._checkpoint_dir)
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    reps_ckpt = ParquetCheckpointer(spark, ckpt.directory + "/reps")

    self.phase_stats_ = []
    t0 = time.monotonic()
    obs = Observation()
    edges = symmetrize_edges(
        self.graph.edges.select(SRC, DST), deduplicate=True
    ).observe(obs, F.count(F.lit(1)).alias("n"))
    edges = ckpt.push_partitioned(edges, SRC, shuffle_n, "edges")
    n_edges = obs.get["n"]
    self.phase_stats_.append(("prep", n_edges, round(time.monotonic() - t0, 2)))

    local_cut = int(
        spark.conf.get(LOCAL_FINISH_EDGES, str(DEFAULT_LOCAL_FINISH_EDGES))
    )
    doublings = int(
        spark.conf.get(REP_DOUBLING, str(DEFAULT_REP_DOUBLING))
    )
    reps_frames = []
    iteration = 0
    while True:
        t0 = time.monotonic()
        if n_edges == 0:
            break
        if n_edges <= local_cut:
            reps = reps_ckpt.push_partitioned(
                _local_components(edges), "rep", shuffle_n, f"reps_{iteration}"
            )
            reps_frames.append(reps)
            iteration += 1
            self.phase_stats_.append(
                ("local", n_edges, round(time.monotonic() - t0, 2))
            )
            break
        seed = self.random_seed + iteration
        reps = _compute_reps(edges, seed)
        if doublings > 0:
            reps = ckpt.push_partitioned(
                reps, "rep", shuffle_n, f"hop_{iteration}"
            )
        for _ in range(doublings):
            r2 = reps.select(
                F.col("v").alias("__d_v"), F.col("rep").alias("__d_rep")
            )
            reps = reps.join(
                r2, reps["rep"] == F.col("__d_v"), "left"
            ).select(
                "v", F.coalesce("__d_rep", "rep").alias("rep")
            )
        reps = reps_ckpt.push_partitioned(
            reps, "rep", shuffle_n, f"reps_{iteration}"
        )
        reps_frames.append(reps)
        obs = Observation()
        new_edges = ckpt.push_partitioned(
            _relabel_edges(edges, reps).observe(obs, F.count(F.lit(1)).alias("n")),
            SRC,
            shuffle_n,
            "edges",
        )
        ckpt.evict_all_but_latest(1)
        edges = new_edges
        prev_edges, n_edges = n_edges, obs.get["n"]
        iteration += 1
        self.phase_stats_.append(
            ("round", prev_edges, round(time.monotonic() - t0, 2))
        )

    self.iterations_ = iteration
    t0 = time.monotonic()

    final = None
    for reps in reversed(reps_frames):
        if final is None:
            final = reps
        else:
            nxt = final.select(
                F.col("v").alias("__fr_v"), F.col("rep").alias("__fr_rep")
            )
            final = reps.join(
                nxt, reps["rep"] == F.col("__fr_v"), "left"
            ).select(
                "v",
                F.coalesce(F.col("__fr_rep"), F.col("rep")).alias("rep"),
            )
    if final is not None:
        final = ckpt.push_partitioned(final, "v", shuffle_n, "final")
        reps_ckpt.purge()
    self.phase_stats_.append(
        ("backprop+final", None, round(time.monotonic() - t0, 2))
    )

    if final is None:
        result = self.graph.vertices.select(ID, F.col(ID).alias(COMPONENT))
    else:
        result = (
            self.graph.vertices.select(ID)
            .join(final, F.col(ID) == final["v"], "left")
            .select(ID, F.coalesce(F.col("rep"), F.col(ID)).alias(COMPONENT))
        )
    if self.use_labels_as_components:
        min_labels = result.groupBy(COMPONENT).agg(F.min(ID).alias("__cc_min"))
        result = (
            result.join(min_labels, COMPONENT)
            .select(ID, F.col("__cc_min").alias(COMPONENT))
        )
    return result
