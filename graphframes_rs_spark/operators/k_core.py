"""k-core decomposition (coreness per vertex) as a Pregel client.

Mirrors reference src/algorithm/centrality/k_core.rs:66-144 (after Mandal &
Al Hasan, "A distributed k-core decomposition algorithm on Spark", IEEE Big
Data 2017): symmetrize+dedup the graph, seed each core estimate with the
undirected degree refined by ``with_fused_seed_rounds`` (default 2) fused
H-index rounds over neighbour estimates (computed during prep from the
shared edge materialization — identical to the first Pregel supersteps'
output, one checkpoint round cheaper each), then iterate

    core'(v) = kcore_merge(neighbour core estimates, core(v))

until no estimate changes. ``kcore_merge`` = the largest ``l`` such that at
least ``l`` neighbours have estimate >= ``l``, capped at the current core
(reference src/expressions/kcore_merge.rs:29-55).

Spark-first choice: instead of a Python UDF, the merge rule runs entirely in
JVM expressions as an H-index over the sorted neighbour-estimate array —
for msgs sorted descending, ``h = #{i : msgs[i] >= i+1}`` (the indicator is
monotone on a descending sort, so the count equals the largest such l), and
capping at the current core is ``least(core, h)``.

Messaging has two modes. The default (the reference's form) re-broadcasts
every estimate every round (the aggregate rebuilds each neighbour list from
scratch, so participation pruning would corrupt estimates; early stop is
voting-only). The INCREMENTAL form (``with_incremental_messages``) keeps a
per-vertex histogram of neighbour estimates and sends only (previous,
current) deltas from vertices that changed — participation pruning is then
exact, and message volume collapses geometrically as the estimate
trajectory converges. Identical outputs round-for-round (the histogram is
exactly the neighbour multiset the rebroadcast would deliver); see
``with_incremental_messages`` for the measured default choice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphframes_rs_spark.graphframe import GraphFrame, ID, SRC, DST, symmetrize_edges
from graphframes_rs_spark.pregel import MessageDirection, Pregel

KCORE = "kcore"


def kcore_merge_expr(msgs: Column, core: Column) -> Column:
    """Pure-SQL kcore_merge: H-index of the neighbour estimates, capped at
    the current core. NULL msgs (no messages) => keep core; NULL core => 0."""
    sorted_desc = F.sort_array(msgs, asc=False)
    h_index = F.size(
        F.filter(sorted_desc, lambda x, i: x >= (i + F.lit(1)).cast("long"))
    ).cast("long")
    merged = F.least(F.coalesce(core, F.lit(0)), h_index)
    return F.when(msgs.isNull(), F.coalesce(core, F.lit(0))).otherwise(merged)


HIST = "__kc_hist"
PREV = "__kc_prev"
ACTIVE = "__kc_active"


def _hist_update_expr(deltas: Column, hist: Column) -> Column:
    """New neighbour-estimate histogram: ``hist`` (map value->count) folded
    with count-compressed delta pairs ``struct(value: struct(cur, prev),
    cnt)`` — each pair adds ``cnt`` at ``cur`` and removes ``cnt`` at
    ``prev`` (NULL ``prev`` = the sender's first broadcast, nothing to
    remove). Entries are folded one at a time (distinct estimate values are
    few — the same property that makes count compression pay off) and zero
    counts are dropped so the map stays minimal."""
    safe = F.coalesce(
        deltas,
        F.array().cast(
            "array<struct<value:struct<cur:bigint,prev:bigint>,cnt:bigint>>"
        ),
    )
    incs = F.transform(
        safe,
        lambda p: F.struct(p["value"]["cur"].alias("value"), p["cnt"].alias("cnt")),
    )
    decs = F.transform(
        safe,
        lambda p: F.struct(
            p["value"]["prev"].alias("value"), (-p["cnt"]).alias("cnt")
        ),
    )
    cur = F.transform(
        F.map_entries(hist),
        lambda e: F.struct(e["key"].alias("value"), e["value"].alias("cnt")),
    )
    entries = F.filter(
        F.concat(cur, incs, decs), lambda e: e["value"].isNotNull()
    )
    folded = F.aggregate(
        entries,
        F.map_from_arrays(
            F.array().cast("array<bigint>"), F.array().cast("array<bigint>")
        ),
        lambda acc, e: F.map_concat(
            F.map_filter(acc, lambda k, v: k != e["value"]),
            F.create_map(
                e["value"],
                F.coalesce(F.element_at(acc, e["value"]), F.lit(0)) + e["cnt"],
            ),
        ),
    )
    return F.map_filter(folded, lambda k, v: v > 0)


def kcore_merge_hist_expr(hist: Column, core: Column) -> Column:
    """kcore_merge over the maintained histogram map: H-index of the
    neighbour estimates it encodes, capped at the current core."""
    pairs = F.transform(
        F.map_entries(hist),
        lambda e: F.struct(e["key"].alias("value"), e["value"].alias("cnt")),
    )
    return kcore_merge_pairs_expr(pairs, core)


def kcore_merge_pairs_expr(pairs: Column, core: Column) -> Column:
    """kcore_merge over a (value, cnt) histogram instead of raw estimates —
    the count-compressed message form. With distinct values e sorted
    descending and cum(e) = Σ cnt over values >= e, the H-index equals
    max_e min(e, cum(e)) (ties fold into the counts), computed as one
    left-fold over the sorted pairs. Shuffle volume per vertex is its
    distinct-estimate count, not its degree — the hub-vertex dial."""
    sorted_desc = F.sort_array(pairs, asc=False)
    fold = F.aggregate(
        sorted_desc,
        F.struct(
            F.lit(0).cast("long").alias("cum"), F.lit(0).cast("long").alias("h")
        ),
        lambda acc, p: F.struct(
            (acc["cum"] + p["cnt"]).alias("cum"),
            F.greatest(
                acc["h"], F.least(p["value"], acc["cum"] + p["cnt"])
            ).alias("h"),
        ),
    )
    merged = F.least(F.coalesce(core, F.lit(0)), fold["h"])
    return F.when(pairs.isNull(), F.coalesce(core, F.lit(0))).otherwise(merged)


class KCoreBuilder:
    def __init__(self, graph: GraphFrame):
        self.graph = graph
        self.max_iter = 0  # 0 => converge
        self._checkpoint_dir = None
        self._incremental = False
        self._count_compression = False
        self._fused_seed_rounds = 2
        self._change_tolerance = 0
        self.iterations_ = 0
        # per-refinement changed-estimate counts / wall seconds of the
        # last run (specialized loop only) — the convergence-trajectory
        # evidence the adaptive stop reads; timing mirrors WCC's
        # phase_stats_ (timestamps around writes the loop already does)
        self.round_changes_ = []
        self.round_seconds_ = []

    def max_iterations(self, n: int) -> "KCoreBuilder":
        self.max_iter = n
        return self

    def with_count_compression(self, flag: bool) -> "KCoreBuilder":
        """Count-compress the estimate messages (two-stage aggregate:
        ``groupBy(id, estimate).count()`` map-combines duplicates before the
        shuffle). Default OFF from measurement: on the sf0.1 bipartite bench
        graph the extra shuffle stage costs more than the deduplication
        saves (best-of-3 12.4s vs 10.6s). Turn it ON for hub-heavy graphs —
        a degree-10^6 vertex whose neighbours hold ~100 distinct estimates
        shuffles ~100 (value, count) rows instead of 10^6 raw messages;
        below ~10^4 max degree the plain single-shuffle form wins.

        Measured on the skew18m power-law tier (18M edges / 6M
        vertices, hub in-degree 364k, 5 supersteps, local[32]): the two
        modes are within run-to-run noise of each other — alternating
        best-of-3 gave 45.6s default vs 55.6s compressed, with 2-4x
        swings across identical runs in BOTH modes (JVM/GC state). A 364k
        hub is only a ~3MB collect_list row, below where compression's
        asymptotic win shows; the dial's target is hubs whose raw
        neighbour list stops fitting a task comfortably (10^6+), where the
        Σdegree->Σdistinct-estimates reduction is orders of magnitude."""
        self._count_compression = flag
        return self

    def with_fused_seed_rounds(self, n: int) -> "KCoreBuilder":
        """How many H-index refinement rounds to fuse into the prep job
        (default 2, measured best). Each fused round is one join + two
        groupBys over the shared edge materialization INSIDE the initial
        state job — the same refinement a Pregel superstep would apply, but
        without paying that superstep's checkpoint write + scheduling. The
        fixpoint is unchanged (the refinement operator is identical), so
        any value only trades prep-plan depth against loop rounds: past
        ~2 the unchekpointed lineage (n chained shuffles) costs more than
        the saved supersteps (measured: 1 -> 12.9s, 2 -> 11.1s,
        3 -> 19.9s on the sf0.1 bench graph)."""
        if n < 0:
            raise ValueError("fused seed rounds must be >= 0")
        self._fused_seed_rounds = n
        return self

    def with_change_tolerance(self, n: int) -> "KCoreBuilder":
        """Adaptive early stop (specialized loop only): end the refinement
        once a round changes <= ``n`` estimates, instead of running to the
        exact fixpoint (or a fixed budget). Default 0 = exact.

        Semantics of a truncated run: H-index refinement from the degree
        seed is MONOTONE NON-INCREASING per vertex, so the returned
        estimates are pointwise UPPER BOUNDS on true coreness, and at most
        the last round's changed-count of vertices (<= n) were still
        moving when the loop stopped — everything else is already at a
        value the remaining rounds would not have touched that round.
        The convergence tail is where this pays: on the bench's 18M-edge
        uniform tier the trajectory (``round_changes_``) collapses
        geometrically after the bulk rounds while each round still costs
        one FULL-size exchange — the classic long-constant-work tail.
        Composes with ``max_iterations`` (whichever stops first)."""
        if n < 0:
            raise ValueError("change tolerance must be >= 0")
        self._change_tolerance = n
        return self

    def with_incremental_messages(self, flag: bool) -> "KCoreBuilder":
        """Incremental delta messaging: each vertex maintains a histogram of
        its neighbours' estimates, and after the first round only vertices
        whose estimate CHANGED send (previous, new) deltas — message volume
        collapses geometrically with convergence instead of re-broadcasting
        every estimate every round. Identical outputs (equivalence-tested).

        Default OFF, from measurement, not guesswork: on the sf0.1 bipartite
        bench graph (5 rounds, modest degrees) the maintained-histogram
        state costs more in checkpoint IO + per-row fold work than the
        saved message shuffle (12.6s vs 10.4s). Turn it ON for graphs where
        the message stream, not the vertex state, is the bottleneck: heavy
        hubs (histogram << degree) and many-round convergence tails where
        most vertices have settled. NOT for short fixed budgets even on
        hub-heavy graphs: on the skew18m power-law tier at 5 supersteps the
        maintained histogram state measured 251s vs a 46-99s default range
        — every vertex still pays the per-round fold + checkpoint of its
        histogram before the geometric message collapse has had time to
        amortize it."""
        self._incremental = flag
        return self

    def set_checkpoint_dir(self, d: str) -> "KCoreBuilder":
        self._checkpoint_dir = d
        return self

    def run(self) -> DataFrame:
        """Returns DataFrame[id, kcore] (isolated vertices => 0)."""
        from graphframes_rs_spark import config as gf_config

        spark = self.graph.vertices.sparkSession
        if (
            gf_config.kcore_specialized_loop(spark)
            and not self._incremental
            and not self._count_compression
        ):
            return self._run_specialized()
        if self._change_tolerance > 0:
            # the Pregel forms stop on exact voting only — silently running
            # ~2x longer than the caller asked for is worse than refusing
            raise ValueError(
                "with_change_tolerance is only supported by the specialized "
                "loop; unset incremental/count-compression modes and keep "
                "spark.graphframes.kcore.specializedLoop=true (default)"
            )
        return self._run_pregel()

    def _run_specialized(self) -> DataFrame:
        """Specialized H-index fixpoint loop — same refinement operator and
        fixpoint as the Pregel client (equivalence-tested), restructured so
        each round is ONE full-size exchange instead of the generic
        machinery's message shuffle + delivery join + voting plumbing.

        Per-round dataflow (measured on the bench skew18m tier — 18M edges,
        364k-degree hub, local[32] — rounds drop from ~6-12s under Pregel
        to ~4.5-7s here; the 7-refinement budget from 62-103s to 44-55s):

        1. edges (bucketed by dst) ⋈ est (bucketed by id) on dst = id —
           zero-Exchange SMJ carrying each neighbour's estimate.
        2. ONE explicit repartition on src; both downstream groupBys
           (src, est) -> counts and src -> collect_list(pairs) are
           satisfied by that single HashPartitioning (subset-of-keys
           clustering), so neither adds an exchange. The (value, cnt)
           pair form bounds the hub row at its distinct-estimate count.
        3. H-index fold over the pairs (kcore_merge_pairs_expr), left
           join back to est (bucket-aligned, no exchange) and bucketed
           re-checkpoint with assume_partitioned (no write exchange).
           The changed-count rides the write via observe() — convergence
           costs zero extra jobs (same trick as Pregel voting).

        Budget semantics match the Pregel path: ``max_iterations(n)`` runs
        ``fused_seed_rounds + n`` total refinements from the degree seed
        (the Pregel form applies the fused rounds during prep), so bench
        numbers are apples-to-apples across the two forms. Isolated
        vertices never enter the loop; they join as coreness 0 at the end.
        Reference semantics: k_core.rs:66-144, kcore_merge.rs:29-55.

        Measured negative — frontier restriction (round 7): recomputing
        only vertices adjacent to a change sounds like it should skip the
        settled majority, but on the skew18m tier the EDGE-weighted
        affected fraction decays too slowly
        for the 7-refinement budget: rounds 2-7 still touch 97/89/76/62/
        48/46% of the 36M symmetrized edge rows, bounding the saving at
        ~20% of round stream volume; the affected set itself is 1.7-5.9M
        ids (only broadcastable from round 6 on), and computing it costs
        an extra edges-vs-changed semi-join plus a distinct per round.
        Net expected gain ~2s of a 31.6s warm isolated run (prep 5.7s +
        7 rounds at a flat ~3.2-4.8s each, change-count-independent) —
        not worth the second code path. The flat per-round floor is the
        single full-size exchange itself, which is the design.
        """
        from pyspark.sql import Observation

        from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer

        spark = self.graph.vertices.sparkSession
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        base = self._checkpoint_dir
        pinned = ParquetCheckpointer(
            spark, None if base is None else base + "/pinned"
        )
        rotating = ParquetCheckpointer(
            spark, (base or pinned.directory) + "/rotating"
        )

        # prep: symmetrize with the dedup folded into the bucket layout —
        # repartition(dst) satisfies the (src, dst) distinct's clustering,
        # so prep pays ONE exchange, and the write reuses it
        sym = (
            symmetrize_edges(self.graph.edges.select(SRC, DST), deduplicate=False)
            .repartition(shuffle_n, DST)
            .dropDuplicates([SRC, DST])
        )
        edges = pinned.push_bucketed(
            sym, DST, shuffle_n, "edges", assume_partitioned=True
        )
        # 0 when the edge frame was empty (push materializes nothing) —
        # the final evict must then skip, not eat the result checkpoint
        n_edge_ckpts = pinned.num_checkpoints
        # degree seed: exchange-free groupBy over the dst-clustered edges;
        # NOT materialized — it rides round 1's plan (isolated vertices
        # stay out of the loop entirely and join as 0 at the end)
        est = edges.groupBy(F.col(DST).alias(ID)).agg(
            F.count(F.lit(1)).alias(KCORE)
        )

        import time as _time

        total_rounds = (
            self._fused_seed_rounds + self.max_iter if self.max_iter > 0 else 10_000
        )
        rnd = 0
        self.round_changes_ = []
        self.round_seconds_ = []
        while rnd < total_rounds:
            rnd += 1
            _t0 = _time.monotonic()
            pairs = (
                edges.join(
                    est.select(
                        F.col(ID).alias("__kc_nid"), F.col(KCORE).alias("__kc_nest")
                    ),
                    F.col(DST) == F.col("__kc_nid"),
                )
                .select(SRC, "__kc_nest")
                .repartition(shuffle_n, SRC)
                .groupBy(SRC, "__kc_nest")
                .agg(F.count(F.lit(1)).alias("__kc_cnt"))
                .groupBy(SRC)
                .agg(
                    F.collect_list(
                        F.struct(
                            F.col("__kc_nest").alias("value"),
                            F.col("__kc_cnt").alias("cnt"),
                        )
                    ).alias("__kc_pairs")
                )
                .select(F.col(SRC).alias(ID), "__kc_pairs")
            )
            merged = kcore_merge_pairs_expr(F.col("__kc_pairs"), F.col(KCORE))
            new_est = est.join(pairs, ID, "left").select(
                ID,
                merged.alias(KCORE),
                (merged != F.col(KCORE)).alias("__kc_chg"),
            )
            obs = Observation()
            new_est = new_est.observe(
                obs, F.sum(F.col("__kc_chg").cast("long")).alias("n")
            )
            est = rotating.push_bucketed(
                new_est.select(ID, KCORE),
                ID,
                shuffle_n,
                f"est{rnd}",
                assume_partitioned=True,
            )
            changed = obs.get["n"]
            rotating.evict_all_but_latest(1)
            self.round_changes_.append(0 if changed is None else int(changed))
            self.round_seconds_.append(round(_time.monotonic() - _t0, 2))
            if changed is None or changed <= self._change_tolerance:
                break
        self.iterations_ = max(0, rnd - self._fused_seed_rounds)

        out = (
            self.graph.vertices.select(ID)
            .join(est, ID, "left")
            .select(ID, F.coalesce(F.col(KCORE), F.lit(0)).alias(KCORE))
        )
        final = pinned.push(out, "final")
        pinned.evict(n_edge_ckpts)  # the edges offload (0 for empty graphs)
        rotating.purge()
        return final

    def _run_pregel(self) -> DataFrame:
        """The Pregel-client form (kept as the incremental/count-compressed
        host and as an equivalence baseline; see _run_specialized)."""
        from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer

        spark = self.graph.vertices.sparkSession
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # Materialize the prepared (symmetrized, deduped) edge set ONCE and
        # derive both the seed degrees and the Pregel iteration from the same
        # scan — otherwise the symmetrize+distinct pipeline runs twice (once
        # per consumer), a full extra pass over the edge set at scale. The
        # bucketed checkpoint makes the degrees groupBy(src) exchange-free.
        prep_ckpt = ParquetCheckpointer(
            spark, None if self._checkpoint_dir is None else self._checkpoint_dir + "/prep"
        )
        raw = symmetrize_edges(self.graph.edges.select(SRC, DST), deduplicate=True)
        prepared_edges = prep_ckpt.push_bucketed(raw, SRC, shuffle_n, "edges")
        degrees = prepared_edges.groupBy(F.col(SRC).alias(ID)).agg(
            F.count(F.lit(1)).alias("degree")
        )
        # Fused seed: start from core0 = degree and apply
        # ``_fused_seed_rounds`` H-index refinements INSIDE the prep job —
        # each is exactly what a Pregel superstep would compute, but riding
        # the shared edge materialization instead of paying a superstep's
        # checkpoint write + scheduling round. The refinement operator is
        # identical, so the fixpoint (and the final answer) is unchanged
        # for any round count; only prep-plan depth vs loop rounds trades.
        est = degrees.select(ID, F.col("degree").alias(KCORE))
        for _ in range(self._fused_seed_rounds):
            nbr_est = prepared_edges.join(
                est.select(
                    F.col(ID).alias("__kc_nid"), F.col(KCORE).alias("__kc_nest")
                ),
                F.col(DST) == F.col("__kc_nid"),
            )
            pairs = (
                nbr_est.groupBy(SRC, "__kc_nest")
                .agg(F.count(F.lit(1)).alias("__kc_cnt"))
                .groupBy(SRC)
                .agg(
                    F.collect_list(
                        F.struct(
                            F.col("__kc_nest").alias("value"),
                            F.col("__kc_cnt").alias("cnt"),
                        )
                    ).alias("__kc_pairs")
                )
                .select(F.col(SRC).alias(ID), "__kc_pairs")
            )
            est = est.join(pairs, ID, "left").select(
                ID,
                kcore_merge_pairs_expr(F.col("__kc_pairs"), F.col(KCORE)).alias(
                    KCORE
                ),
            )
        vertices = (
            self.graph.vertices.select(ID)
            .join(est, ID, "left")
            .select(ID, F.coalesce(F.col(KCORE), F.lit(0)).alias(KCORE))
        )
        prep = GraphFrame(vertices, prepared_edges)

        if self._incremental:
            # Delta protocol: senders = vertices whose estimate changed last
            # round (participation prune), carrying inc = current estimate
            # and dec = previous one; receivers fold the deltas into a
            # maintained histogram and re-derive their H-index from it.
            # Round 0: everyone sends inc = seed, dec = NULL (filtered).
            new_hist = _hist_update_expr(Pregel.msg(), F.col(HIST))
            new_core = kcore_merge_hist_expr(new_hist, F.col(KCORE))
            empty_map = F.map_from_arrays(
                F.array().cast("array<bigint>"), F.array().cast("array<bigint>")
            )
            delta_msg = F.struct(
                Pregel.src(KCORE).alias("cur"), Pregel.src(PREV).alias("prev")
            )
            builder = (
                prep.pregel()
                .add_vertex_column(HIST, empty_map, new_hist)
                .add_vertex_column(PREV, F.lit(None).cast("bigint"), F.col(KCORE))
                .add_vertex_column(KCORE, F.col(KCORE), new_core)
                .add_message(delta_msg, MessageDirection.SRC_TO_DST)
                .add_aggregate_expr(F.collect_list(Pregel.msg()))
                .with_count_compressed_messages()
                .with_participation_column(
                    ACTIVE, F.lit(True), F.col(KCORE) != new_core
                )
                .with_vertex_voting("active", F.col(KCORE) != new_core)
                .skip_dest_state()
                .with_materialized_edges()
            )
        elif self._count_compression:
            new_core = kcore_merge_pairs_expr(Pregel.msg(), F.col(KCORE))
            builder = (
                prep.pregel()
                .add_vertex_column(KCORE, F.col(KCORE), new_core)
                .add_message(Pregel.src(KCORE), MessageDirection.SRC_TO_DST)
                .add_aggregate_expr(F.collect_list(Pregel.msg()))
                .with_count_compressed_messages()
                .with_vertex_voting("active", F.col(KCORE) != new_core)
                .skip_dest_state()
                .with_materialized_edges()
            )
        else:
            # plain single-shuffle messaging (measured default; see
            # with_count_compression for the hub-graph tradeoff)
            new_core = kcore_merge_expr(Pregel.msg(), F.col(KCORE))
            builder = (
                prep.pregel()
                .add_vertex_column(KCORE, F.col(KCORE), new_core)
                .add_message(Pregel.src(KCORE), MessageDirection.SRC_TO_DST)
                .add_aggregate_expr(F.collect_list(Pregel.msg()))
                .with_vertex_voting("active", F.col(KCORE) != new_core)
                .skip_dest_state()
                .with_materialized_edges()
            )
        if self._checkpoint_dir:
            builder = builder.set_checkpoint_dir(self._checkpoint_dir)
        if self.max_iter > 0:
            builder = builder.max_iterations(self.max_iter)

        out = builder.run().select(ID, KCORE)
        self.iterations_ = builder.iterations_
        prep_ckpt.purge()  # Pregel re-materialized the result; prep can go
        return out
