"""Greedy graph coloring (Jones–Plassmann) as a Pregel client.

Not in the reference or GraphFrames; added for the classic scheduling /
conflict-partitioning use case (e.g. batching mutually-independent
updates). Each vertex gets a deterministic hash priority; a vertex
colors itself the round after every UNCOLORED higher-priority neighbour
is gone, picking the minimum color absent from its colored
neighbourhood (the "mex"). Guarantees a proper coloring with
``color(v) <= degree(v)`` (so at most max_degree + 1 colors).

Priority is (degree, hash, id) descending — the largest-degree-first
variant: pure hash priorities are O(log n) rounds only on
bounded-degree graphs and build long monotone chains through hubs
(measured 101 rounds / 110s on a 171k-vertex bipartite hub graph);
degree-first colors every hub immediately and its neighbourhood right
after (same graph: 2 rounds / 16s, and the optimal 2-coloring).

Plan shape: identical superstep skeleton to k-core — symmetrized deduped
edges materialized once, per-round ``collect_list(struct(priority, id,
color))`` delivery, voting-based termination. Hub vertices pay a
degree-sized list per round exactly as k-core's raw messaging does; the
round count is the small factor (log n), not the degree.

Self-loops are dropped during symmetrization: a loop makes proper
coloring impossible, and every other operator here treats loops as
non-structural.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphframes_rs_spark.graphframe import GraphFrame, ID, symmetrize_edges
from graphframes_rs_spark.pregel import MessageDirection, Pregel


class ColoringBuilder:
    def __init__(self, graph: GraphFrame):
        self.graph = graph
        self.max_iter = 0  # 0 => run to completion via voting
        self.seed = 42
        self._checkpoint_dir = None
        self.iterations_ = 0

    def max_iterations(self, n: int) -> "ColoringBuilder":
        self.max_iter = n
        return self

    def with_seed(self, seed: int) -> "ColoringBuilder":
        """Priority-hash seed: changes WHICH proper coloring is found
        (still deterministic per seed), never whether it is proper."""
        self.seed = seed
        return self

    def set_checkpoint_dir(self, d: str) -> "ColoringBuilder":
        self._checkpoint_dir = d
        return self

    def run(self) -> DataFrame:
        """Returns DataFrame[id, color] (int, 0-based; isolated vertices
        color 0). Colors are always proper and non-NULL when the run
        converges (the default — voting stops the loop at completion);
        a ``max_iterations`` safety cap that fires first leaves the
        not-yet-scheduled vertices NULL."""
        from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer

        spark = self.graph.vertices.sparkSession
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # materialize symmetrize+distinct ONCE (the with_materialized_edges
        # contract — see k_core's prep): without this every superstep's
        # write job would re-run the full edge dedup shuffle
        prep_ckpt = ParquetCheckpointer(
            spark,
            None if self._checkpoint_dir is None
            else self._checkpoint_dir + "/prep",
        )
        sym = symmetrize_edges(
            self.graph.edges.select("src", "dst"), deduplicate=True
        )
        sym = prep_ckpt.push_bucketed(sym, "src", shuffle_n, "edges")
        # largest-degree-first priority (JP-LDF): pure hash priorities
        # build long monotone chains THROUGH hubs (measured 101 rounds on
        # a 171k-vertex bipartite hub graph); ranking by (degree, hash)
        # colors every hub in round 1 and its neighbourhood right after
        # (same graph: 10 rounds). The hash still breaks same-degree ties
        # seed-deterministically.
        degs = sym.groupBy(F.col("src").alias(ID)).agg(
            F.count(F.lit(1)).alias("__deg")
        )
        verts = (
            self.graph.vertices.select(ID)
            .join(degs, ID, "left")
            .select(ID, F.coalesce("__deg", F.lit(0)).alias("__deg"))
        )
        prep = GraphFrame(verts, sym)

        prio = F.xxhash64(F.col(ID), F.lit(self.seed))
        nbrs = F.coalesce(
            Pregel.msg(),
            F.array().cast(
                "array<struct<d:bigint,p:bigint,i:bigint,c:int>>"
            ),
        )
        own_d, own_p, own_i = F.col("deg"), F.col("prio"), F.col(ID)
        blocked = F.exists(
            nbrs,
            lambda n: n["c"].isNull()
            & (
                (n["d"] > own_d)
                | (
                    (n["d"] == own_d)
                    & (
                        (n["p"] > own_p)
                        | ((n["p"] == own_p) & (n["i"] > own_i))
                    )
                )
            ),
        )
        used = F.transform(
            F.filter(nbrs, lambda n: n["c"].isNotNull()), lambda n: n["c"]
        )
        mex = F.array_min(
            F.filter(
                F.sequence(F.lit(0), F.size(used)),
                lambda k: ~F.array_contains(used, k),
            )
        )
        new_color = (
            F.when(F.col("color").isNotNull(), F.col("color"))
            .when(~blocked, mex)
            .otherwise(F.lit(None).cast("int"))
        )

        builder = (
            prep.pregel()
            .add_vertex_column(
                "color", F.lit(None).cast("int"), new_color
            )
            .add_vertex_column("prio", prio, F.col("prio"))
            .add_vertex_column("deg", F.col("__deg"), F.col("deg"))
            .add_message(
                F.struct(
                    Pregel.src("deg").alias("d"),
                    Pregel.src("prio").alias("p"),
                    Pregel.src(ID).alias("i"),
                    Pregel.src("color").alias("c"),
                ),
                MessageDirection.SRC_TO_DST,
            )
            .add_aggregate_expr(F.collect_list(Pregel.msg()))
            .skip_dest_state()
            .with_materialized_edges()
        )
        if self._checkpoint_dir:
            builder = builder.set_checkpoint_dir(self._checkpoint_dir)
        # voting stays on even under a round budget: the loop stops the
        # round nothing is left to color (a budget without voting would
        # both burn dead rounds after convergence AND return NULL colors
        # when cut short — max_iterations is a safety cap, not the stop)
        builder = builder.with_vertex_voting("active", new_color.isNull())
        if self.max_iter > 0:
            builder = builder.max_iterations(self.max_iter)
        out = builder.run()
        self.iterations_ = builder.iterations_
        prep_ckpt.purge()
        # isolated vertices never receive messages: blocked=false, mex=0
        return out.select(ID, F.col("color"))
