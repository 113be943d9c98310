"""Betweenness centrality from sampled sources — Brandes' algorithm as
two Pregel programs.

Not in the reference or GraphFrames (GraphX has no betweenness either);
added because betweenness is the standard "bridge vertex" signal and the
k-sampled-source estimator (Brandes 2001 §4 / Bader et al.) is the only
form that makes sense at 100 TB: exact Brandes is O(V·E), the sampled
form is O(k·E·diameter) and unbiasedly scales by |V|/k if extrapolation
is wanted (left to the caller — this operator reports the raw sampled
sum).

Directed semantics over the edge direction; pass a symmetrized graph for
undirected betweenness.

Phase 1 (forward, one Pregel run): multi-source BFS where ALL k sources
advance in lockstep — per-source dist_i and path-count sigma_i ride
array columns, so each superstep is ONE triplet join regardless of k
(the same batching as parallel personalized PageRank). Only the
CURRENT FRONTIER of each source emits (messages are NULL elsewhere and
sum() ignores them), so no nested min/sum aggregate is ever needed:
a vertex's first non-null round fixes dist_i, and the sum of frontier
sigmas IS sigma_i, because every shortest path's predecessor is in that
frontier.

Phase 2 (backward, second Pregel run): dependency accumulation
delta_i(v) = sum over shortest-path successors w of
sigma_i(v)/sigma_i(w) * (1 + delta_i(w)), processed in DECREASING
distance order. The layer index rides a countdown vertex column t
(T, T-1, ...), so the SAME message expression runs every superstep.
It runs over the REVERSED edge checkpoint with the layer-t successor w
as the message SOURCE: the message carries only (1 + delta_i(w)) /
sigma_i(w) (src-state only), and the receiver v applies its own factor
— delta_i(v) += sigma_i(v) · Σmsg, gated on v.dist_i == t-1 — so the
phase gets skip_dest_state + the pre-join participation prune: each
superstep joins just the CURRENT LAYER against the reversed edges, the
same frontier-scale (not graph-scale) join shape as the forward BFS.
Each vertex's delta_i is finalized the round its layer fires, because
all its successors (dist+1) fired the round before.

Betweenness(v) = sum_i delta_i(v), zeroed at each walk's own source
(Brandes excludes the source from its own accumulation).

Cost: T forward + T backward supersteps where T = max finite distance
from any sampled source — a small-diameter assumption, explicit here,
inherent to level-synchronous Brandes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphframes_rs_spark.graphframe import DST, GraphFrame, ID, SRC
from graphframes_rs_spark.pregel import MessageDirection, Pregel


def _any_of(conds):
    """NULL-tolerant K-way OR over boolean Columns (the per-source
    frontier/layer predicates): greatest() over the int casts treats a
    NULL term as false (an unreached source's dist comparison is NULL),
    yielding NULL only when EVERY term is NULL. NOTE this is NOT SQL OR's
    tri-state semantics — SQL OR over {FALSE, NULL} yields NULL, this
    yields FALSE — which is exactly right for the when()/filter()
    null-as-false contexts it's used in here, but a caller relying on
    NULL propagation must not use it. The K == 1 case short-circuits to
    the bare condition (so a single NULL term DOES stay NULL). Callers
    that must not see NULL at all (participation filters) coalesce(False)
    the result, exactly as they would the bare OR."""
    if len(conds) == 1:
        return conds[0]
    return F.greatest(*[c.cast("int") for c in conds]) == 1


class BetweennessBuilder:
    def __init__(self, graph: GraphFrame, sources):
        self.graph = graph
        # dedupe, order-preserving: a repeated source would run the same
        # accumulation twice and silently double its dependency mass.
        # Sources absent from the vertex frame contribute zero (documented).
        self.sources = list(dict.fromkeys(int(s) for s in sources))
        if not self.sources:
            raise ValueError("betweenness needs >= 1 source vertex")
        self._checkpoint_dir = None
        self._max_distance = None
        self.max_distance_ = 0
        # (phase, rows_or_supersteps, seconds) evidence trail — same
        # contract as the WCC/k-core/Louvain builders' phase_stats_:
        # "prep" carries the materialized edge count (rides the checkpoint
        # write's observe(), zero extra jobs), "forward"/"backward" carry
        # the executed superstep count of each Pregel program
        self.phase_stats_ = []

    def max_distance(self, n: int) -> "BetweennessBuilder":
        """Bounded-distance betweenness: ignore shortest paths longer
        than ``n`` hops (the standard k-bounded estimator — Brandes &
        Pich 2007). Caps BOTH phases at ``n`` supersteps, making the cost
        O(k·E·n) independent of graph diameter; on small-world graphs
        most dependency mass lives within a few hops, so small bounds
        approximate the unbounded score well while large-diameter
        stragglers stop dominating the wall clock."""
        if n < 1:
            raise ValueError("max_distance must be >= 1")
        self._max_distance = n
        return self

    def set_checkpoint_dir(self, d: str) -> "BetweennessBuilder":
        self._checkpoint_dir = d
        return self

    def _ckpt(self, suffix: str):
        if self._checkpoint_dir is None:
            return None
        return self._checkpoint_dir + "/" + suffix

    def run(self) -> DataFrame:
        """Returns DataFrame[id, betweenness] — the raw dependency sum
        over the sampled sources (0.0 for vertices on no shortest path)."""
        K = len(self.sources)
        dists = [f"__bw_d_{i}" for i in range(K)]
        sigmas = [f"__bw_s_{i}" for i in range(K)]

        # Materialize the edge projection ONCE (bucketed by src) and feed
        # the SAME checkpoint to both Pregel phases — the
        # with_materialized_edges contract (see k_core/pagerank prep):
        # otherwise each of the 2·T supersteps would re-run the caller's
        # edge lineage and re-exchange it.
        from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer

        import time

        from pyspark.sql import Observation

        spark = self.graph.vertices.sparkSession
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        prep_ckpt = ParquetCheckpointer(spark, self._ckpt("prep"))
        self.phase_stats_ = []
        t0 = time.monotonic()
        pobs = Observation()
        raw = self.graph.edges.select(SRC, DST).observe(
            pobs, F.count(F.lit(1)).alias("n")
        )
        edges = prep_ckpt.push_bucketed(raw, SRC, shuffle_n, "edges")
        try:
            n_prep = int(pobs.get["n"] or 0)
        except Exception:
            # an empty edge relation is folded away by Catalyst's
            # empty-relation propagation, pruning the CollectMetrics node —
            # Observation.get then fails; the checkpoint scan's count is
            # metadata-cheap and only reachable on the degenerate graph
            n_prep = edges.count()
        self.phase_stats_.append(
            ("prep", n_prep, round(time.monotonic() - t0, 2))
        )

        # ---- phase 1: lockstep multi-source BFS with path counts --------
        msg = Pregel.msg("sig")
        fwd = GraphFrame(self.graph.vertices, edges).pregel()
        for i, s in enumerate(self.sources):
            is_src = F.col(ID) == F.lit(s)
            fwd = fwd.add_vertex_column(
                dists[i],
                F.when(is_src, F.lit(0)).cast("int"),
                F.coalesce(
                    F.col(dists[i]),
                    F.when(msg[i].isNotNull(), F.col("__bw_round")),
                ),
            ).add_vertex_column(
                sigmas[i],
                F.when(is_src, F.lit(1.0)).otherwise(F.lit(None).cast("double")),
                F.coalesce(F.col(sigmas[i]), msg[i]),
            )
        any_arrived = _any_of(
            [F.col(dists[i]).isNull() & msg[i].isNotNull() for i in range(K)]
        )
        fwd = (
            fwd.add_vertex_column(
                "__bw_round", F.lit(1), F.col("__bw_round") + 1
            )
            .add_named_message(
                "sig",
                F.array(
                    *[
                        F.when(
                            Pregel.src(dists[i])
                            == Pregel.src("__bw_round") - 1,
                            Pregel.src(sigmas[i]),
                        )
                        for i in range(K)
                    ]
                ),
                MessageDirection.SRC_TO_DST,
            )
            .add_named_aggregate_expr(
                "sig", F.array(*[F.sum(msg[i]) for i in range(K)])
            )
            # frontier pruning: only vertices reached LAST superstep have a
            # non-null "dist == round-1" message to send, so the pre-join
            # participation prune (skip_dest_state fast path) shrinks the
            # triplet join's state side from |V| to the frontier — on the
            # 6m bench tier (4 sources, max_distance 4, frontier ~1e2) the
            # forward phase drops 15.5s -> 9.7s and is then
            # checkpoint-write-bound (2M-row state x 4 supersteps), not
            # join-bound; with the reversed-edge backward prune the query
            # fell 44.6s -> 27.0s
            .with_participation_column(
                "__bw_front",
                F.col(ID).isin(self.sources),
                any_arrived,
            )
            .with_vertex_voting("active", any_arrived)
            .skip_dest_state()
            .with_materialized_edges()
        )
        if self._max_distance is not None:
            fwd = fwd.max_iterations(self._max_distance)
        if self._ckpt("fwd"):
            fwd = fwd.set_checkpoint_dir(self._ckpt("fwd"))
        t0 = time.monotonic()
        reached = fwd.run()
        self.phase_stats_.append(
            ("forward", fwd.iterations_, round(time.monotonic() - t0, 2))
        )

        t_max = reached.agg(
            F.max(F.greatest(*dists) if K > 1 else F.col(dists[0]))
        ).collect()[0][0]
        self.max_distance_ = int(t_max or 0)
        if self.max_distance_ == 0:  # no source reaches anything
            prep_ckpt.purge()
            return self.graph.vertices.select(
                ID, F.lit(0.0).alias("betweenness")
            )

        # ---- phase 2: countdown-layered dependency accumulation ---------
        # Runs over the REVERSED edge checkpoint so the sender (the layer-t
        # successor w) is the SRC side: the message then references only
        # src-state, which unlocks skip_dest_state + the pre-join
        # participation prune — each superstep joins just the CURRENT
        # LAYER against the reversed edges instead of |V| x |E| with a
        # post-hoc layer filter. The receiver-side factor of Brandes'
        # delta(v) += sigma_v/sigma_w * (1 + delta_w) moves into the vertex
        # update (v knows its own sigma and whether v.dist == t-1), so the
        # message carries only (1 + delta_w)/sigma_w. Algebraically
        # identical; plan-wise the phase is layer-scale, not graph-scale.
        t0 = time.monotonic()
        rev = edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
        redges = prep_ckpt.push_bucketed(rev, SRC, shuffle_n, "redges")
        self.phase_stats_.append(
            ("prep_rev", n_prep, round(time.monotonic() - t0, 2))
        )
        deltas = [f"__bw_x_{i}" for i in range(K)]
        bmsg = Pregel.msg("dep")
        back = GraphFrame(reached, redges).pregel()
        for i in range(K):
            # gate on the RECEIVER: v accumulates only in the superstep
            # where its layer is next (v.dist == t-1), exactly when its
            # successors (dist t) just fired — everything else ignores the
            # stray messages a reversed edge may deliver
            gate_i = F.col(dists[i]) == F.col("__bw_t") - 1
            back = (
                back.add_vertex_column(dists[i], F.col(dists[i]), F.col(dists[i]))
                .add_vertex_column(sigmas[i], F.col(sigmas[i]), F.col(sigmas[i]))
                .add_vertex_column(
                    deltas[i],
                    F.lit(0.0),
                    F.col(deltas[i])
                    + F.when(
                        gate_i,
                        F.col(sigmas[i]) * F.coalesce(bmsg[i], F.lit(0.0)),
                    ).otherwise(F.lit(0.0)),
                )
            )
        any_in_next_layer = _any_of(
            [(F.col(dists[i]) == F.col("__bw_t") - 1) for i in range(K)]
        )
        init_in_layer = _any_of(
            [(F.col(dists[i]) == F.lit(self.max_distance_)) for i in range(K)]
        )
        back = (
            back.add_vertex_column(
                "__bw_t",
                F.lit(self.max_distance_),
                F.col("__bw_t") - 1,
            )
            .add_named_message(
                "dep",
                F.array(
                    *[
                        F.when(
                            Pregel.src(dists[i]) == Pregel.src("__bw_t"),
                            (F.lit(1.0) + Pregel.src(deltas[i]))
                            / Pregel.src(sigmas[i]),
                        )
                        for i in range(K)
                    ]
                ),
                MessageDirection.SRC_TO_DST,
            )
            .add_named_aggregate_expr(
                "dep", F.array(*[F.sum(bmsg[i]) for i in range(K)])
            )
            # layer pruning, the backward twin of the forward frontier
            # prune: only layer-t vertices send in the superstep where
            # __bw_t == t; F.coalesce(..., False) keeps unreached
            # (NULL-dist) vertices out of the filter's tri-state
            .with_participation_column(
                "__bw_layer",
                F.coalesce(init_in_layer, F.lit(False)),
                F.coalesce(any_in_next_layer, F.lit(False)),
            )
            .max_iterations(self.max_distance_)
            .skip_dest_state()
            .with_materialized_edges()
        )
        # with_checkpoint_interval(2) measured-and-rejected on the 6m tier:
        # 27.0s -> 31.3s (identical results) — with frontier-scale joins
        # the per-superstep cost is the 2M-row state write, and a persisted
        # in-memory copy costs more than the tmpfs parquet it would skip
        if self._ckpt("back"):
            back = back.set_checkpoint_dir(self._ckpt("back"))
        t0 = time.monotonic()
        acc = back.run()
        self.phase_stats_.append(
            ("backward", back.iterations_, round(time.monotonic() - t0, 2))
        )
        prep_ckpt.purge()  # both phases re-materialized their results

        contribs = [
            F.when(
                F.col(ID) == F.lit(self.sources[i]), F.lit(0.0)
            ).otherwise(F.col(deltas[i]))
            for i in range(K)
        ]
        total = contribs[0]
        for c in contribs[1:]:
            total = total + c
        return acc.select(ID, F.round(total, 6).alias("betweenness"))
