"""Incremental (delta) PageRank — GraphX-style — as a Pregel client.

Semantics mirror reference src/algorithm/centrality/pagerank.rs:78-204:

  state:  pagerank (init reset_prob), pagerank_delta (init reset_prob),
          out_degree (carried)
  msg:    src.pagerank_delta / src.out_degree   (SrcToDst, sum-aggregated)
  update: pagerank += alpha * coalesce(msg, 0);  delta = alpha * coalesce(msg, 0)
  participation: delta > tol   (prunes converged sources each superstep)
  voting: delta > tol          (convergence mode only, max_iter == 0)
  finish: global normalization so ranks sum to 1 (crossJoin a 1-row agg)

The additive seed constant cancels in normalization; alpha (= 1 - reset_prob)
does not — dropping it would collapse to the pure random-walk distribution,
wrong on graphs with sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphframes_rs_spark.graphframe import GraphFrame, ID, SRC
from graphframes_rs_spark.pregel import MessageDirection, Pregel

PAGERANK = "pagerank"
PAGERANK_DELTA = "pagerank_delta"


class PageRankBuilder:
    def __init__(self, graph: GraphFrame):
        self.graph = graph
        self.reset_prob = 0.15
        self.tol = 0.01
        self.max_iter = 0  # 0 => run to convergence via voting
        self._checkpoint_dir = None
        self._sources = None
        self._parallel_sources = None
        self._weight_col = None
        self.iterations_ = 0

    def with_reset_prob(self, p: float) -> "PageRankBuilder":
        self.reset_prob = p
        return self

    def personalized(self, source_ids) -> "PageRankBuilder":
        """Personalized PageRank: the teleport/reset mass lands only on the
        given source vertices instead of uniformly — ranks become proximity
        to the source set (GraphX ``personalizedPageRank`` semantics). In
        the delta formulation this is purely a seed change: delta_0 =
        reset_prob on sources and 0 elsewhere; the iteration and its
        Neumann-series fixpoint are otherwise identical, so every plan
        property of the uniform operator (participation pruning, bucketed
        superstep join) carries over. Ranks still normalize to sum 1; if no
        source id exists in the graph the total mass is 0 and ranks are
        NULL — validate inputs upstream."""
        self._sources = [int(s) for s in source_ids]
        return self

    def parallel_personalized(self, source_ids) -> "PageRankBuilder":
        """K personalized PageRanks in ONE Pregel loop (GraphFrames
        ``parallelPersonalizedPageRank`` parity): the result frame carries
        ``pageranks: array<double>`` — element ``i`` is the personalized
        rank w.r.t. ``source_ids[i]``, each normalized to sum 1.

        Spark-first batching: instead of K separate runs (K× the superstep
        join cost), the K walks share ONE triplet join per superstep. The
        per-source deltas ride a single array-valued message
        (``F.array(delta_0/deg, ..., delta_{K-1}/deg)``) whose aggregate is
        an array of element sums, so the shuffle moves one row per
        (edge, superstep) regardless of K — exactly the amortization that
        makes 100-source proximity scoring affordable on a 100 TB graph.
        Participation/voting use ``greatest(delta_i)``: a vertex stays
        active while ANY chain still moves, and the loop converges when
        the slowest chain does. K is a plan-size knob (2·K state columns),
        not a data knob — keep K ≲ a few hundred per call and batch larger
        source sets across calls."""
        self._parallel_sources = [int(s) for s in source_ids]
        if not self._parallel_sources:
            raise ValueError("parallel_personalized requires >= 1 source id")
        return self

    def weighted(self, weight_col: str = "weight") -> "PageRankBuilder":
        """Edge-weighted PageRank: a vertex's delta splits over its
        out-edges proportionally to edge weight (GraphX convention) instead
        of uniformly — the random surfer follows heavy edges more often.
        Only the seed normalizer changes shape: out_degree becomes the sum
        of outgoing weights, and the message multiplies by the edge's
        weight; the delta iteration and all plan properties are unchanged.
        Weights must be positive — zero-total vertices would divide by
        zero exactly like an all-zero-degree sink (validate upstream)."""
        self._weight_col = weight_col
        return self

    def with_tol(self, tol: float) -> "PageRankBuilder":
        self.tol = tol
        return self

    def max_iterations(self, n: int) -> "PageRankBuilder":
        self.max_iter = n
        return self

    def set_checkpoint_dir(self, d: str) -> "PageRankBuilder":
        self._checkpoint_dir = d
        return self

    def run(self) -> DataFrame:
        """Returns DataFrame[id, pagerank] normalized to sum 1."""
        from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer

        alpha = 1.0 - self.reset_prob
        spark = self.graph.vertices.sparkSession
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

        # Materialize the edge projection once; the out-degree seed and the
        # Pregel iteration both read the same checkpointed scan (bucketed,
        # so the degree groupBy(src) is exchange-free).
        prep_ckpt = ParquetCheckpointer(
            spark,
            None if self._checkpoint_dir is None else self._checkpoint_dir + "/prep",
        )
        from graphframes_rs_spark.pregel import _EDGE_PREFIX

        w = self._weight_col
        # weighted mode checkpoints the weight column under the engine's
        # edge-column alias so the SAME materialization feeds the weight
        # normalizer below and the Pregel iteration (see
        # with_materialized_edges' contract)
        raw = self.graph.edges.select(
            *(
                [SRC, "dst"]
                if w is None
                else [
                    F.col(SRC),
                    F.col("dst"),
                    F.col(w).alias(_EDGE_PREFIX + w),
                ]
            )
        )
        edges = prep_ckpt.push_bucketed(raw, SRC, shuffle_n, "edges")

        # PageRank needs out-degrees to split the delta over out-edges
        # (the sum of outgoing weights in weighted mode). Vertices with no
        # out-edges keep out_degree NULL; they never emit a message (the
        # join against edges produces no triplet rows for them), so the
        # NULL never reaches an expression.
        degrees = edges.groupBy(F.col(SRC).alias(ID)).agg(
            (
                F.count(F.lit(1))
                if w is None
                else F.sum(F.col(_EDGE_PREFIX + w))
            ).alias("out_degree")
        )
        vertices = self.graph.vertices.select(ID).join(degrees, ID, "left")
        prep = GraphFrame(vertices, edges)

        if self._parallel_sources is not None:
            return self._run_parallel(prep, prep_ckpt, alpha)

        new_delta = F.lit(alpha) * F.coalesce(Pregel.msg(), F.lit(0.0))
        if self._sources is None:
            seed = F.lit(self.reset_prob)
        else:  # personalized: teleport mass only on the source set
            seed = F.when(
                F.col(ID).isin(self._sources), F.lit(self.reset_prob)
            ).otherwise(F.lit(0.0))
        builder = (
            prep.pregel()
            .add_vertex_column(PAGERANK, seed, F.col(PAGERANK) + new_delta)
            .add_vertex_column(PAGERANK_DELTA, seed, new_delta)
            .add_vertex_column("out_degree", F.col("out_degree"), F.col("out_degree"))
            .add_message(
                Pregel.src(PAGERANK_DELTA) / Pregel.src("out_degree")
                if w is None
                else Pregel.src(PAGERANK_DELTA)
                * Pregel.edge(w)
                / Pregel.src("out_degree"),
                MessageDirection.SRC_TO_DST,
            )
            .add_aggregate_expr(F.sum(Pregel.msg()))
            .with_participation_column("participates", F.lit(True), new_delta > F.lit(self.tol))
            .skip_dest_state()
            .with_materialized_edges()
        )
        if w is not None:
            builder = builder.add_edge_column(w)
        if self._checkpoint_dir:
            builder = builder.set_checkpoint_dir(self._checkpoint_dir)
        if self.max_iter > 0:
            builder = builder.max_iterations(self.max_iter)
        else:
            builder = builder.with_vertex_voting("active", new_delta > F.lit(self.tol))

        out = builder.run()
        self.iterations_ = builder.iterations_
        prep_ckpt.purge()  # Pregel re-materialized the result; prep can go

        # Normalization: 1-row global sum broadcast-joined against every row.
        total = out.agg(F.sum(PAGERANK).alias("__pr_sum"))
        return (
            out.crossJoin(F.broadcast(total))
            .select(F.col(ID), (F.col(PAGERANK) / F.col("__pr_sum")).alias(PAGERANK))
        )

    def _run_parallel(self, prep: GraphFrame, prep_ckpt, alpha: float) -> DataFrame:
        """K-chain personalized PageRank over one shared superstep join —
        see :meth:`parallel_personalized` for the batching rationale."""
        sources = self._parallel_sources
        K = len(sources)
        w = self._weight_col
        from graphframes_rs_spark.pregel import _EDGE_PREFIX  # noqa: F401

        deltas = [f"{PAGERANK_DELTA}_{i}" for i in range(K)]
        prs = [f"{PAGERANK}_{i}" for i in range(K)]
        msg = Pregel.msg("deltas")
        new_deltas = [
            F.lit(alpha) * F.coalesce(msg[i], F.lit(0.0)) for i in range(K)
        ]
        any_moving = F.greatest(*new_deltas) if K > 1 else new_deltas[0]

        builder = prep.pregel()
        for i, s in enumerate(sources):
            seed_i = F.when(
                F.col(ID) == F.lit(s), F.lit(self.reset_prob)
            ).otherwise(F.lit(0.0))
            builder = builder.add_vertex_column(
                prs[i], seed_i, F.col(prs[i]) + new_deltas[i]
            ).add_vertex_column(deltas[i], seed_i, new_deltas[i])
        builder = (
            builder.add_vertex_column(
                "out_degree", F.col("out_degree"), F.col("out_degree")
            )
            .add_named_message(
                "deltas",
                F.array(
                    *[
                        Pregel.src(d) / Pregel.src("out_degree")
                        if w is None
                        else Pregel.src(d)
                        * Pregel.edge(w)
                        / Pregel.src("out_degree")
                        for d in deltas
                    ]
                ),
                MessageDirection.SRC_TO_DST,
            )
            # element-wise sum: every message row carries all K elements
            # (0.0, never NULL, for chains with no mass at that source),
            # so F.sum per element is the exact per-chain delta total
            .add_named_aggregate_expr(
                "deltas", F.array(*[F.sum(msg[i]) for i in range(K)])
            )
            .with_participation_column(
                "participates", F.lit(True), any_moving > F.lit(self.tol)
            )
            .skip_dest_state()
            .with_materialized_edges()
        )
        if w is not None:
            builder = builder.add_edge_column(w)
        if self._checkpoint_dir:
            builder = builder.set_checkpoint_dir(self._checkpoint_dir)
        if self.max_iter > 0:
            builder = builder.max_iterations(self.max_iter)
        else:
            builder = builder.with_vertex_voting(
                "active", any_moving > F.lit(self.tol)
            )

        out = builder.run()
        self.iterations_ = builder.iterations_
        prep_ckpt.purge()

        # One 1-row broadcast carries all K normalizers.
        totals = out.agg(
            *[F.sum(p).alias(f"__pr_sum_{i}") for i, p in enumerate(prs)]
        )
        return out.crossJoin(F.broadcast(totals)).select(
            F.col(ID),
            F.array(
                *[
                    F.col(p) / F.col(f"__pr_sum_{i}")
                    for i, p in enumerate(prs)
                ]
            ).alias("pageranks"),
        )
