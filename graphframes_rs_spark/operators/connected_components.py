"""Weakly connected components via randomized contraction.

Same algorithm family as the reference (Bögeholz et al., ICDE 2020;
reference src/algorithm/connectivity/connected_components.rs:47-396) —
repeat until no edges remain:

  1. draw a fresh random hash h_i over vertex ids;
  2. rep(v) = the vertex u in {v} ∪ out-neighbours(v) minimizing h_i(u);
  3. relabel every edge (u, w) -> (rep(u), rep(w)), drop self-loops, dedup;

then map every original vertex to its final representative and (by default)
relabel each component to the minimum original member id.

Spark-first redesign (deliberate, documented for parity review): the
reference hashes ids INTO GF(2^64) space with an invertible affine hash
(``finite_axpb``) and un-winds the hashes afterwards by composing affine
inverses. Spark has a built-in 64-bit hash (``xxhash64``), so instead of
working in hash space we pick ``rep(v) = argmin_{u} xxhash64(u, seed_i)``
via ``min(struct(hash, id))`` — representatives stay *real vertex ids*, no
inverse map is needed, and the orig->current mapping is folded with one
hash-join per contraction round (O(log n) rounds w.h.p.). With
``use_labels_as_components=True`` (the default, as in the reference) the
output is bit-identical to the reference's regardless of hash family.
``finite_axpb`` itself ships in ``functions/hashes.py`` for parity.

Scale notes: each round shrinks the edge set geometrically; the heavy ops
are two relabel joins + a distinct, all keyed on vertex ids (AQE handles
skew from giant components). Edges and the mapping are checkpointed per
round to truncate lineage.

**Bucketed-round restructure: measured and REJECTED (r15).** Storing the
edge frame and rep maps as bucketed checkpoints removes ~3 of the ~5
edge-scale Exchanges per round (the reps aggregate and relabel join 1
consume declared HashPartitioning) and measured +11% on the uniform
54M-edge tier — but **35% SLOWER on the power-law skew18m tier** (46.3s
vs 34.3s warm interleaved, warmups agree): AQE's skew-join splitting
only applies when BOTH join sides are ENSURE_REQUIREMENTS shuffles, so a
bucket-aligned relabel join cannot split the contracted giant-component
supernode's partition, and after round 1 the surviving edges concentrate
exactly there. No hybrid keeps both properties (any bucketed side of the
join disables the split; an explicit repartition is REPARTITION_BY_NUM,
which the skew rule also refuses to split). Power-law degree is the 100
TB norm, so skew-safety wins over exchange count here — this closes the
r6 question (~6% on uniform 18m) with the decisive skew
counter-evidence.

**Local-finish tail collapse**: geometric contraction means that after
O(1) distributed rounds the surviving graph fits in a single task no
matter the starting size (100 TB in, a few MB of contracted edges out).
Distributed rounds then waste a full job cycle per ~1000 edges, so once
the edge count drops below ``spark.graphframes.wcc.localFinishEdges``
(default 500k, ≈ 8 MB) the remaining contraction runs as ONE single-task
union-find over ``mapInPandas`` and the loop ends. Results are identical:
the finisher emits a representative mapping exactly like a contraction
round does, and back-propagation composes it the same way.
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graphframes_rs_spark.config import int_conf
from graphframes_rs_spark.graphframe import DST, GraphFrame, ID, SRC, symmetrize_edges
from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer

COMPONENT = "component"

LOCAL_FINISH_EDGES = "spark.graphframes.wcc.localFinishEdges"
# The finisher runs in ONE task: everything above the cut serializes on a
# single core while the cluster idles. Measured on the 6M/18M-edge bench
# tiers, a 5M cut made the tail the dominant cost (6M-edge WCC: 31.8s at
# 5M vs 17.4s at 500k — one extra distributed round is far cheaper than a
# multi-million-edge single task, and on a 1000-executor cluster the
# imbalance is worse). 500k pairs ≈ 8 MB in the task: big enough to stop
# the long constant-work contraction tail, small enough to never straggle.
DEFAULT_LOCAL_FINISH_EDGES = 500_000

REP_DOUBLING = "spark.graphframes.wcc.repDoubling"
# Pointer-double the per-round rep map k times (rep <- rep∘rep, VERTEX-
# scale left joins) before the EDGE-scale relabel: the rep forest of a
# round has chains (v -> min-hash neighbour -> its min-hash neighbour...),
# so one relabel under the raw map wastes most of the round's contraction
# potential — doubling contracts up to 2^k hops per edge-scale round.
# Measured (local[32]): 18M-edge tier 4 rounds
# instead of ~7, warm 28-40s vs 38-48s (16-25% faster, both orders);
# 6M tier parity at full JVM steady state, ~15% faster in the bench's
# fresh-session regime. Correctness is unconditional: each doubled map
# still sends every vertex into its own component (composition of
# component-preserving maps), back-propagation composes whatever maps
# were stored, and the final labels are min-member ids regardless of
# intermediate rep choice. min_by hash ties can form 2-cycles; a FIXED
# k is cycle-safe (rep^2k of a 2-cycle is the identity — no progress on
# that pair this round, resolved by the next round's reseeded hash).
# 0 disables (the reference's one-hop round, connected_components.rs:107).
# Depth sweep (round 9, 18m tier, one warm session, orders alternated):
# d=2 30.0-32.6s, d=3 35.0-39.7s, d=4 39.4s — deeper doubling does NOT
# shrink the edge trajectory (round-2 input 26.0M at every depth: the
# slow early shrink is DISTINCT supernode-pair edges, which no amount of
# forest compression reduces), while each extra doubling adds one
# vertex-scale join per round. 2 is the measured optimum, not a guess.
DEFAULT_REP_DOUBLING = 2


def _compute_reps(edges: DataFrame, seed: int) -> DataFrame:
    """[v, rep]: the min-hash vertex among {v} ∪ out-neighbours(v)
    (mirrors compute_cc_reps, connected_components.rs:47-68).

    ``min_by(dst, h(dst))`` + ``min(h(dst))``, NOT ``min(struct(h, dst))``:
    a struct-typed min buffer forces a SortAggregate — a per-partition
    sort of the full edge set every contraction round — while min_by's
    (long, long) buffer stays a codegen'd partial-combining HashAggregate
    (the same planning cliff the matching operator documents). On a
    64-bit hash tie between two distinct neighbours min_by picks either;
    that changes nothing observable: any neighbour is a valid contraction
    rep, and the final labels are min-member ids (the engine default
    relabel), independent of intermediate rep choices."""
    h = lambda c: F.xxhash64(c, F.lit(seed))
    nbr = edges.groupBy(F.col(SRC).alias("v")).agg(
        F.min_by(F.col(DST), h(F.col(DST))).alias("u"),
        F.min(h(F.col(DST))).alias("nh"),
    )
    return nbr.select(
        "v",
        F.when(
            h(F.col("v")) < F.col("nh"), F.col("v")
        ).otherwise(F.col("u")).alias("rep"),
    )


def _local_components(edges: DataFrame) -> DataFrame:
    """[v, rep]: exact connected components of a SMALL edge frame via
    single-task union-find (rep = minimum member id). The tail finisher —
    one task, no further rounds, no per-round checkpoints."""

    def solve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        srcs, dsts = [], []
        for pdf in batches:
            srcs.append(pdf[SRC].to_numpy())
            dsts.append(pdf[DST].to_numpy())
        if not srcs:
            return
        s = np.concatenate(srcs)
        d = np.concatenate(dsts)
        # vectorized min-label propagation with pointer doubling:
        # O(active edges) numpy work per round, O(log n) rounds. np.unique
        # sorts, so index order == id order and the min label IS the min
        # member id. Edges whose endpoints already share a label are dropped
        # each round — the active set shrinks geometrically, so total work
        # is ~2x the first round instead of rounds × m (ufunc.at is the
        # per-round cost driver; feeding it shrinking arrays matters).
        ids, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
        si, di = inv[: len(s)], inv[len(s):]
        label = np.arange(len(ids))
        while True:
            ls, ld = label[si], label[di]
            active = ls != ld
            if not active.any():
                break
            si, di = si[active], di[active]
            ls, ld = ls[active], ld[active]
            lmin = np.minimum(ls, ld)
            # hook onto the ROOTS (ls/ld are roots: labels are fully
            # compressed at loop top) — hooking the vertices instead would
            # lose merges once their edges are dropped as settled
            np.minimum.at(label, ls, lmin)
            np.minimum.at(label, ld, lmin)
            # pointer doubling until this round's hooks are fully compressed,
            # so the next round's ls/ld are again roots
            while True:
                nxt = label[label]
                if np.array_equal(nxt, label):
                    break
                label = nxt
        yield pd.DataFrame({"v": ids, "rep": ids[label]})

    # coalesce(1), not repartition(1): the edge frame is a materialized
    # checkpoint scan, so one task can read the files directly — no
    # single-reader shuffle funnel (measured 2-3x faster on a 12M-edge tail)
    return edges.select(SRC, DST).coalesce(1).mapInPandas(solve, "v long, rep long")


def _relabel_edges(edges: DataFrame, reps: DataFrame) -> DataFrame:
    """(u, w) -> (rep(u), rep(w)), self-loops dropped, deduplicated
    (mirrors relabel_edges, connected_components.rs:70-96)."""
    src_rel = (
        edges.join(reps, edges[SRC] == reps["v"], "inner")
        .select(F.col("rep").alias(SRC), F.col(DST))
    )
    return (
        src_rel.join(reps, src_rel[DST] == reps["v"], "inner")
        .filter(F.col(SRC) != F.col("rep"))
        .select(F.col(SRC), F.col("rep").alias(DST))
        .distinct()
    )


class ConnectedComponentsBuilder:
    def __init__(self, graph: GraphFrame):
        self.graph = graph
        self.use_labels_as_components = True
        self.random_seed = 42
        self._checkpoint_dir = None
        self.iterations_ = 0
        # wall-clock evidence of the last run, no extra jobs: [(phase,
        # edges_in, seconds)] where phase is "prep", "round", "local",
        # "backprop+final". Each row times the eager checkpoint write(s)
        # that phase already performs.
        self.phase_stats_ = []

    def with_use_labels_as_components(self, flag: bool) -> "ConnectedComponentsBuilder":
        self.use_labels_as_components = flag
        return self

    def with_random_seed(self, seed: int) -> "ConnectedComponentsBuilder":
        self.random_seed = seed
        return self

    def set_checkpoint_dir(self, d: str) -> "ConnectedComponentsBuilder":
        self._checkpoint_dir = d
        return self

    def run(self) -> DataFrame:
        """Returns DataFrame[id, component]; isolated vertices are their own
        component. Component ids are minimum original member ids when
        ``use_labels_as_components`` (default), else representative ids."""
        spark = self.graph.vertices.sparkSession
        local_cut = int_conf(
            spark, LOCAL_FINISH_EDGES, DEFAULT_LOCAL_FINISH_EDGES, 0
        )
        doublings = int_conf(spark, REP_DOUBLING, DEFAULT_REP_DOUBLING, 0)
        ckpt = ParquetCheckpointer(spark, self._checkpoint_dir)
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

        # Reps frames must outlive the forward loop (back-propagation reads
        # them newest-to-oldest), so they live in their own pinned pool.
        reps_ckpt = ParquetCheckpointer(spark, ckpt.directory + "/reps")

        # prepare: drop self-loops, symmetrize, dedup (cc.rs "prepare" step).
        # Edge counts ride the checkpoint writes as observe() metrics — loop
        # control never pays a separate count job over the edge set.
        self.phase_stats_ = []
        t0 = time.monotonic()
        obs = Observation()
        edges = symmetrize_edges(
            self.graph.edges.select(SRC, DST), deduplicate=True
        ).observe(obs, F.count(F.lit(1)).alias("n"))
        edges = ckpt.push_partitioned(edges, SRC, shuffle_n, "edges")
        n_edges = obs.get["n"]
        self.phase_stats_.append(("prep", n_edges, round(time.monotonic() - t0, 2)))

        # ---- forward contraction ----
        # Per round only the (geometrically shrinking) reps frame is stored;
        # the orig->component mapping is composed once afterwards — total
        # join work Σ|reps_i| ≈ 2|V| instead of rounds·|V| (the same reason
        # the reference back-propagates instead of folding forward,
        # connected_components.rs:107-171).
        reps_frames = []
        iteration = 0
        while True:
            t0 = time.monotonic()
            if n_edges == 0:
                break
            if n_edges <= local_cut:
                # tail collapse: finish the contracted graph in one task
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
                # Materialize the ONE-HOP map before the doubling self-joins:
                # unmaterialized, each doubling squares the plan, embedding
                # 2^k copies of the EDGE-scale min_by aggregate (the join
                # branches exchange on different keys — rep vs v — so
                # exchange reuse is only partial and the edge frame is
                # re-aggregated several times per round). Materialized, the
                # doublings compose 2^k VERTEX-scale parquet scans instead.
                # Pushed into the edges pool (not reps_ckpt) so the loop's
                # evict_all_but_latest(1) reclaims it right after the doubled
                # map — the only frame back-propagation needs — is written.
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

        # ---- back propagation: compose reps newest -> oldest ----
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
            reps_ckpt.purge()  # final is materialized; reps no longer needed
        self.phase_stats_.append(
            ("backprop+final", None, round(time.monotonic() - t0, 2))
        )

        # every vertex: its representative, or itself if never contracted
        if final is None:
            result = self.graph.vertices.select(ID, F.col(ID).alias(COMPONENT))
        else:
            result = (
                self.graph.vertices.select(ID)
                .join(final, F.col(ID) == final["v"], "left")
                .select(ID, F.coalesce(F.col("rep"), F.col(ID)).alias(COMPONENT))
            )
        if self.use_labels_as_components:
            # relabel each component to its minimum original member id
            # (cc.rs:359-383); makes output deterministic across hash families
            min_labels = result.groupBy(COMPONENT).agg(F.min(ID).alias("__cc_min"))
            result = (
                result.join(min_labels, COMPONENT)
                .select(ID, F.col("__cc_min").alias(COMPONENT))
            )
        return result


def update_components(
    labels: DataFrame,
    new_edges: DataFrame,
    checkpoint_dir=None,
    seed: int = 42,
) -> DataFrame:
    """Incremental WCC maintenance: fold a batch of NEW edges into an
    existing ``[id, component]`` labeling without recomputing the full
    graph — the streaming-graph operation an edge-append lakehouse table
    needs nightly.

    Edge additions can only MERGE components, never split them, so the
    update reduces to WCC on the CONTRACTED graph: map each new edge's
    endpoints through the current labeling (unseen vertices become their
    own singleton component), keep the distinct cross-component pairs —
    a frame bounded by the batch size, not the graph — run the engine's
    full WCC on that contracted graph, and compose the relabeling.
    Because component labels are minimum member ids (the engine default),
    the contracted WCC's min-label output IS the merged set's true
    minimum member, so the composed labeling is exactly what a full
    recompute would produce (the incremental-vs-full equality is the
    driver oracle for this operator).

    Cost: two label-map joins + one distinct over the batch + a WCC over
    a graph whose size is O(components touched) — at 100 TB the daily
    batch's contracted graph is typically thousands of vertices, not
    billions."""
    spark = labels.sparkSession
    e = new_edges.select(SRC, DST)
    # unseen endpoints -> singleton components
    ends = (
        e.select(F.col(SRC).alias(ID))
        .unionByName(e.select(F.col(DST).alias(ID)))
        .distinct()
    )
    fresh = ends.join(labels.select(ID), ID, "left_anti").select(
        ID, F.col(ID).alias("component")
    )
    full = labels.unionByName(fresh)

    lab_src = full.select(F.col(ID).alias(SRC), F.col("component").alias("__cs"))
    lab_dst = full.select(F.col(ID).alias(DST), F.col("component").alias("__cd"))
    contracted = (
        e.join(lab_src, SRC)
        .join(lab_dst, DST)
        .filter(F.col("__cs") != F.col("__cd"))
        .select(F.col("__cs").alias(SRC), F.col("__cd").alias(DST))
        .distinct()
    )
    cverts = (
        contracted.select(F.col(SRC).alias(ID))
        .unionByName(contracted.select(F.col(DST).alias(ID)))
        .distinct()
    )
    if cverts.limit(1).count() == 0:
        return full
    sub = (
        ConnectedComponentsBuilder(GraphFrame(cverts, contracted))
        .with_random_seed(seed)
        .set_checkpoint_dir(checkpoint_dir)
        .run()
        .select(F.col(ID).alias("component"), F.col("component").alias("__new"))
    )
    return full.join(sub, "component", "left").select(
        ID, F.coalesce("__new", "component").alias("component")
    )
