"""Maximal independent set via Ghaffari's distributed algorithm.

Mirrors reference src/algorithm/subgraph/maximal_independent_set.rs:110-399:
every vertex starts with nomination probability p = 1/2; each round on the
surviving graph:

  1. effective degree d(v) = Σ p(u) over current neighbours;
  2. v nominates itself with probability p(v);
  3. a nominated vertex with NO nominated neighbour joins the MIS;
  4. MIS members and their neighbours leave the graph;
  5. p'(v) = p(v)/2 if d(v) >= 2 else min(2·p(v), 1/2);
  6. vertices with no remaining edges join the MIS (isolated ⇒ independent);

loop until no edges remain. Improvement over the reference (which could not
seed its engine RNG, maximal_independent_set.rs:100-105): nomination draws a
deterministic uniform from ``xxhash64(id, round_seed)``, so runs are exactly
reproducible regardless of partitioning, task scheduling, or cluster size
(``F.rand(seed)`` is only per-partition-seeded and is re-evaluated per plan
branch, which is neither).

Returns the single-column member list DataFrame[id]. Validity invariants
(independence + maximality) are what the tests assert, matching the
reference's invariant-style test strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graphframes_rs_spark.graphframe import DST, GraphFrame, ID, SRC, symmetrize_edges
from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer


class MISBuilder:
    def __init__(self, graph: GraphFrame):
        self.graph = graph
        self.random_seed = 42
        self.max_iter = 10_000  # safety cap; expected rounds O(log n)
        self._checkpoint_dir = None
        self.iterations_ = 0

    def with_random_seed(self, seed: int) -> "MISBuilder":
        self.random_seed = seed
        return self

    def max_iterations(self, n: int) -> "MISBuilder":
        self.max_iter = n
        return self

    def set_checkpoint_dir(self, d: str) -> "MISBuilder":
        self._checkpoint_dir = d
        return self

    def run(self) -> DataFrame:
        spark = self.graph.vertices.sparkSession
        ckpt = ParquetCheckpointer(spark, self._checkpoint_dir)
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

        # Materialize the symmetrized edge set FIRST; the isolated-vertex
        # split below then reads the checkpoint scan instead of recomputing
        # symmetrize+distinct a second time. Edge counts ride the write
        # (observe) — loop control never pays a separate count job.
        obs = Observation()
        edges = ckpt.push_partitioned(
            symmetrize_edges(self.graph.edges.select(SRC, DST), deduplicate=True)
            .observe(obs, F.count(F.lit(1)).alias("n")),
            SRC,
            shuffle_n,
            "edges",
        )
        n_edges = obs.get["n"]
        # active state: [id, p]
        state = self.graph.vertices.select(ID, F.lit(0.5).alias("p"))

        # vertices isolated from the start are MIS members immediately
        endpoints = edges.select(F.col(SRC).alias(ID)).distinct()
        mis = state.join(endpoints, ID, "left_anti").select(ID)
        state = state.join(endpoints, ID, "left_semi")

        mis = ckpt.push(mis, "mis")
        state = ckpt.push_partitioned(state, ID, shuffle_n, "state")

        iteration = 0
        while iteration < self.max_iter and n_edges > 0:
            seed = self.random_seed + iteration

            # nominate with prob p, deterministic per (seed, id): map the
            # 64-bit hash to a uniform in [0, 1). Unlike F.rand this does not
            # depend on partition layout and is stable across plan branches.
            uniform = (
                F.xxhash64(F.col(ID), F.lit(seed)).cast("double")
                / F.lit(float(2**64))
                + F.lit(0.5)
            )
            marked = state.select(
                ID,
                "p",
                (uniform < F.col("p")).alias("marked"),
            )

            # per-vertex: sum of neighbour p (effective degree) and whether
            # any neighbour nominated itself — one join + one aggregate
            nbr_info = (
                edges.join(
                    marked.select(
                        F.col(ID).alias("__n_id"),
                        F.col("p").alias("__n_p"),
                        F.col("marked").alias("__n_marked"),
                    ),
                    F.col(DST) == F.col("__n_id"),
                    "inner",
                )
                .groupBy(F.col(SRC).alias(ID))
                .agg(
                    F.sum("__n_p").alias("eff_degree"),
                    F.max(F.col("__n_marked").cast("int")).alias("nbr_marked"),
                )
            )

            full = marked.join(nbr_info, ID, "left").select(
                ID,
                "p",
                "marked",
                F.coalesce(F.col("eff_degree"), F.lit(0.0)).alias("eff_degree"),
                (F.coalesce(F.col("nbr_marked"), F.lit(0)) == 1).alias("nbr_marked"),
            )

            # 3. join MIS: nominated with no nominated neighbour
            new_members = full.filter(F.col("marked") & ~F.col("nbr_marked")).select(ID)

            # 4. removal set = new members + their neighbours
            removed = new_members.unionByName(
                edges.join(new_members, edges[SRC] == new_members[ID], "left_semi")
                .select(F.col(DST).alias(ID))
            ).distinct()

            # 5. probability update on survivors
            survivors = (
                full.join(removed, ID, "left_anti")
                .select(
                    ID,
                    F.when(F.col("eff_degree") >= 2.0, F.col("p") / 2)
                    .otherwise(F.least(F.col("p") * 2, F.lit(0.5)))
                    .alias("p"),
                )
            )
            new_edges = (
                edges.join(removed, edges[SRC] == removed[ID], "left_anti")
                .join(removed, edges[DST] == removed[ID], "left_anti")
            )

            # 6. survivors isolated by the removal join the MIS
            still_connected = new_edges.select(F.col(SRC).alias(ID)).distinct()
            isolated = survivors.join(still_connected, ID, "left_anti").select(ID)
            new_mis = mis.unionByName(new_members).unionByName(isolated)
            survivors = survivors.join(still_connected, ID, "left_semi")

            # checkpoint new state before evicting old
            mis = ckpt.push(new_mis, "mis")
            state = ckpt.push_partitioned(survivors, ID, shuffle_n, "state")
            obs = Observation()
            edges = ckpt.push_partitioned(
                new_edges.observe(obs, F.count(F.lit(1)).alias("n")),
                SRC,
                shuffle_n,
                "edges",
            )
            ckpt.evict_all_but_latest(3)
            n_edges = obs.get["n"]
            iteration += 1

        self.iterations_ = iteration
        # Safety-cap fallback: any leftover actives are swept in greedily and
        # deterministically (min-id first) — converges because each pass
        # admits at least one vertex per surviving neighbourhood.
        while n_edges > 0:
            reps = (
                edges.groupBy(F.col(SRC).alias(ID))
                .agg(F.min(DST).alias("min_nbr"))
                .filter(F.col(ID) < F.col("min_nbr"))
                .select(ID)
            )
            new_mis = mis.unionByName(reps)
            removed = reps.unionByName(
                edges.join(reps, edges[SRC] == reps[ID], "left_semi")
                .select(F.col(DST).alias(ID))
            ).distinct()
            survivors = state.join(removed, ID, "left_anti")
            new_edges = (
                edges.join(removed, edges[SRC] == removed[ID], "left_anti")
                .join(removed, edges[DST] == removed[ID], "left_anti")
            )
            still_connected = new_edges.select(F.col(SRC).alias(ID)).distinct()
            isolated = survivors.join(still_connected, ID, "left_anti").select(ID)
            new_mis = new_mis.unionByName(isolated)

            mis = ckpt.push(new_mis, "mis")
            state = ckpt.push_partitioned(
                survivors.join(still_connected, ID, "left_semi"), ID, shuffle_n, "state"
            )
            obs = Observation()
            edges = ckpt.push_partitioned(
                new_edges.observe(obs, F.count(F.lit(1)).alias("n")),
                SRC,
                shuffle_n,
                "edges",
            )
            ckpt.evict_all_but_latest(3)
            n_edges = obs.get["n"]

        return mis.select(ID)
