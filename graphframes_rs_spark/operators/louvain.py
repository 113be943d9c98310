"""Louvain community detection (multi-level modularity optimization).

The reference's community module is an empty placeholder
(src/algorithm/community.rs); label propagation covers it at parity level.
Louvain (Blondel et al. 2008) is the standard step up — it optimizes an
explicit objective (Newman modularity, see ``operators/modularity.py``)
instead of propagating plurality labels, and is what production graph
stacks actually ship for community detection.

Algorithm, re-expressed for data-parallel execution:

* **Level** = local-moving rounds until quiescence, then graph contraction.
* **Local moving (parallel variant)**: every vertex simultaneously
  evaluates moving into each *neighbouring* community and takes the move
  with the largest modularity gain

      ΔQ(v: c0 → c) = (k_{v,c} − k_{v,c0∖v}) / m
                      − k_v · (Σtot(c) − Σtot(c0) + k_v) / (2 m²)

  (k_{v,c} = weight from v into c, Σtot = community's total weighted
  degree, m = total edge weight — constant across levels). Classic
  sequential Louvain moves one vertex at a time; the parallel variant
  (Sotera's Spark implementation, Que et al. 2015 "parallel Louvain")
  moves an alternating half of the vertices per round — a hash parity
  gate — so two adjacent vertices don't chase each other's communities
  in a cycle. Moves are deterministic: strict-positive gain, ties broken
  by minimum community id, parity from ``xxhash64(v)``, no RNG state.
* **Contraction**: communities become super-vertices; intra-community
  weight becomes a self-loop (so Σtot is preserved exactly), inter
  weights sum. The next level runs on a graph that is typically orders
  of magnitude smaller.

Scale notes: each move round is two hash joins keyed on vertex id plus
two combine-enabled aggregations (neighbour-community weights, community
totals); the move count rides the per-round checkpoint write as an
``observe()`` metric, so loop control never pays a separate job. The
contraction shrinks the graph geometrically, so level 2+ cost is
negligible next to level 1 — the same economics as the WCC contraction
loop. No collects, no Python in the hot path.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graphframes_rs_spark.graphframe import DST, GraphFrame, ID, SRC
from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer

COMMUNITY = "community"
_GAIN_EPS = 1e-12

# Move rounds never combine neighbour messages map-side on (v, uc) before
# the v-exchange. Measured on a 6M-edge power-law graph (2 levels x 3
# moves), messages per distinct (v, uc) were at most 1.027, so the combine
# would remove <= 2.7% of rows, while its second candidate-scale exchange
# nearly doubles shuffled rows per round (11.7M aggregated + 11.7M
# re-placed vs 12.0M raw). The raw single-exchange form is the only one.


def _canonical_weighted_edges(edges: DataFrame, weight_col: str | None) -> DataFrame:
    """[a, b, w] with a <= b: unordered pairs, weights summed over every
    input edge between the pair (both orientations; a == b keeps
    self-loops). Unweighted input counts each edge at weight 1."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    return (
        edges.select(
            F.least(F.col(SRC), F.col(DST)).alias("a"),
            F.greatest(F.col(SRC), F.col(DST)).alias("b"),
            w.alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )


def _adjacency(edges_c: DataFrame) -> DataFrame:
    """[v, u, w]: both directions of the non-loop canonical edges."""
    no_loop = edges_c.filter(F.col("a") != F.col("b"))
    return no_loop.select(
        F.col("a").alias("v"), F.col("b").alias("u"), "w"
    ).unionByName(
        no_loop.select(F.col("b").alias("v"), F.col("a").alias("u"), "w")
    )


def _nodes_from_edges(edges_c: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """[v, comm, k]: singleton communities with weighted degrees
    (self-loops count twice, the standard convention). ``vertices`` adds
    isolated vertices at k = 0."""
    # exploding both endpoints double-counts self-loops (a == b emits two
    # rows) — exactly the k_v convention Louvain's formulas assume
    ends = edges_c.select(F.explode(F.array("a", "b")).alias("v"), "w")
    deg = ends.groupBy("v").agg(F.sum("w").alias("k"))
    if vertices is not None:
        deg = (
            vertices.select(F.col(ID).alias("v"))
            .join(deg, "v", "left")
            .select("v", F.coalesce(F.col("k"), F.lit(0.0)).alias("k"))
        )
    return deg.select("v", F.col("v").alias("comm"), "k")


class LouvainBuilder:
    def __init__(self, graph: GraphFrame, weight_col: str | None = None):
        self.graph = graph
        self.weight_col = weight_col
        self._max_levels = 3
        self._max_moves = 10
        self._move_tolerance = 0.0
        self._checkpoint_dir = None
        self.levels_ = 0
        self.moves_ = 0
        # (phase, rows_or_moves, seconds) evidence trail — same contract as
        # the WCC/k-core builders' phase_stats_: "prep"/"contract" carry a
        # row count, "move l<level> r<round>" carries the pre-gate
        # wants-to-move count; zero extra jobs (all counts ride observe()
        # metrics the loop already pays for)
        self.phase_stats_ = []

    def max_levels(self, n: int) -> "LouvainBuilder":
        """Contraction levels (default 3); level 1 dominates cost."""
        self._max_levels = n
        return self

    def max_moves(self, n: int) -> "LouvainBuilder":
        """Local-moving rounds per level (default 10)."""
        self._max_moves = n
        return self

    def with_move_tolerance(self, frac: float) -> "LouvainBuilder":
        """Adaptive early stop for local moving: end a level's move rounds
        once a round's pre-gate wants-to-move count drops to at most
        ``frac`` of the level's vertex count, instead of running to
        quiescence or the ``max_moves`` budget. Default 0.0 = exact
        (every budgeted round runs).

        Rationale — the same long-tail shape k-core's
        ``with_change_tolerance`` addresses (k_core.py): the wants-to-move
        trajectory collapses geometrically (6m bench tier, level 0:
        2.0M -> 1.2M -> 0.65M) while every round still pays the full
        neighbour-join exchange; once only a small fraction of vertices
        are still improving, the round costs edge-scale work for
        vertex-tail gain. Semantics of a truncated level: the skipped
        vertices simply REMAIN in their current communities — the result
        is a valid clustering whose modularity trails the quiescent one by
        at most the truncated moves' total gain; contraction and later
        levels then re-examine exactly those boundaries at super-vertex
        scale. Composes with ``max_moves`` (whichever stops first); the
        stop is recorded in ``phase_stats_`` as ``move_tol_stop``.

        Measured on a 6M-edge power-law graph: at frac=0.02 the stop
        fires at level-0 round 7 (wants 21,030 <= 0.02·2M) and returns
        the remaining budget; a 3-round budget gains nothing because all
        three of its rounds are bulk (smallest still wants 574k moves) —
        the tolerance pays on longer budgets (the default max_moves=10),
        where level-0 rounds 8+ chase <1% of vertices at full-exchange
        cost. Level 1 decays much slower
        (~0.85x/round vs level 0's ~0.55x) — fraction-of-|V_level| keys
        the stop to each level's own size, so a slow level simply runs
        its budget."""
        if not (0.0 <= frac < 1.0):
            raise ValueError("move tolerance must be in [0, 1)")
        self._move_tolerance = float(frac)
        return self

    def set_checkpoint_dir(self, d: str) -> "LouvainBuilder":
        self._checkpoint_dir = d
        return self

    def run(self) -> DataFrame:
        """Returns DataFrame[id, community]; community = minimum original
        member id (isolated vertices are their own community)."""
        spark = self.graph.vertices.sparkSession
        ckpt = ParquetCheckpointer(spark, self._checkpoint_dir)
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        lvl_ckpt = ParquetCheckpointer(spark, ckpt.directory + "/levels")

        self.phase_stats_ = []
        t0 = time.monotonic()
        obs = Observation()
        edges_c = lvl_ckpt.push_partitioned(
            _canonical_weighted_edges(self.graph.edges, self.weight_col).observe(
                obs, F.sum("w").alias("m"), F.count(F.lit(1)).alias("n")
            ),
            "a",
            shuffle_n,
            "edges_l0",
        )
        m = obs.get["m"]
        if not m:  # no edges: every vertex is its own community
            self.levels_ = 0
            return self.graph.vertices.select(ID, F.col(ID).alias(COMMUNITY))
        m = float(m)
        self.phase_stats_.append(
            ("prep", int(obs.get["n"]), round(time.monotonic() - t0, 2))
        )

        mappings = []  # per-level [v, comm] frames, original ids downward
        total_moves = 0
        vertices = self.graph.vertices
        for level in range(self._max_levels):
            # BUCKETED level state (the Pregel-engine zero-Exchange shape,
            # pregel.py run()): adjacency is written once per level and
            # joined on "u" EVERY move round — bucketing it on the join key
            # removes one edge-scale Exchange per round; nodes are bucketed
            # on "v" so the neighbour-community join, the enrich join and
            # the move-apply join all read pre-placed state. Measured on
            # the 6m bench tier (identical 6,124,345 total moves): level-0
            # move rounds 15.0/13.8/11.7s -> 10.1/8.4/5.7s, contraction
            # 7.5s -> 3.2s, query wall 69s -> 56s at comparable steal.
            adj = lvl_ckpt.push_bucketed(
                _adjacency(edges_c), "u", shuffle_n, f"adj_l{level}"
            )
            nobs = Observation()
            nodes = lvl_ckpt.push_bucketed(
                _nodes_from_edges(
                    edges_c, vertices if level == 0 else None
                ).observe(nobs, F.count(F.lit(1)).alias("n")),
                "v",
                shuffle_n,
                f"nodes_l{level}",
            )
            # vertex count rides the checkpoint write (zero extra jobs);
            # only consulted by the move-tolerance stop rule
            n_level = int(nobs.get["n"] or 0)
            tol_cut = self._move_tolerance * n_level
            level_moves = 0
            for rnd in range(self._max_moves):
                t0 = time.monotonic()
                moved, nodes = self._move_round(
                    adj, nodes, m, rnd, ckpt, shuffle_n
                )
                self.phase_stats_.append(
                    (
                        f"move l{level} r{rnd}",
                        moved,
                        round(time.monotonic() - t0, 2),
                    )
                )
                level_moves += moved
                if moved == 0:
                    break
                if self._move_tolerance > 0.0 and moved <= tol_cut:
                    # wants-to-move tail is below tolerance: the NEXT
                    # round's full exchange would chase <= frac·|V| moves
                    self.phase_stats_.append(
                        (f"move_tol_stop l{level}", moved, 0.0)
                    )
                    break
            total_moves += level_moves
            if level_moves == 0:
                # quiescent on arrival: contraction would be the identity
                break
            # pin the level mapping in the level pool: the per-round pool
            # evicts aggressively, but mappings are read again after all
            # levels finish (same reason WCC pins its reps frames)
            mappings.append(
                lvl_ckpt.push_partitioned(
                    nodes.select("v", "comm"), "v", shuffle_n, f"map_l{level}"
                )
            )
            self.levels_ = level + 1
            if level + 1 >= self._max_levels:
                break
            # ---- contract communities into super-vertices ----
            ma = nodes.select(F.col("v").alias("a"), F.col("comm").alias("ca"))
            mb = nodes.select(F.col("v").alias("b"), F.col("comm").alias("cb"))
            t0 = time.monotonic()
            obs = Observation()
            edges_c = lvl_ckpt.push_partitioned(
                edges_c.join(ma, "a")
                .join(mb, "b")
                .select(
                    F.least(F.col("ca"), F.col("cb")).alias("a"),
                    F.greatest(F.col("ca"), F.col("cb")).alias("b"),
                    "w",
                )
                .groupBy("a", "b")
                .agg(F.sum("w").alias("w"))
                .observe(obs, F.count(F.lit(1)).alias("n")),
                "a",
                shuffle_n,
                f"edges_l{level + 1}",
            )
            n_contracted = int(obs.get["n"] or 0)
            self.phase_stats_.append(
                (
                    f"contract l{level}",
                    n_contracted,
                    round(time.monotonic() - t0, 2),
                )
            )
            if n_contracted == 0:
                break

        self.moves_ = total_moves

        # ---- compose level mappings back onto original vertices ----
        t0 = time.monotonic()
        assign = self.graph.vertices.select(ID, F.col(ID).alias("cur"))
        for mapping in mappings:
            assign = assign.join(
                mapping.select(F.col("v").alias("cur"), F.col("comm").alias("__nxt")),
                "cur",
                "left",
            ).select(ID, F.coalesce(F.col("__nxt"), F.col("cur")).alias("cur"))
        assign = ckpt.push_partitioned(assign, "cur", shuffle_n, "assign")
        self.phase_stats_.append(
            ("compose", len(mappings), round(time.monotonic() - t0, 2))
        )

        # min-member relabel (house convention: WCC/SCC/dedup clusters)
        min_labels = assign.groupBy("cur").agg(F.min(ID).alias("__min"))
        return assign.join(min_labels, "cur").select(
            ID, F.col("__min").alias(COMMUNITY)
        )

    # ------------------------------------------------------------------
    def _move_round(self, adj, nodes, m, rnd, ckpt, shuffle_n):
        """One parallel local-moving round; returns (n_moved, new_nodes).

        Shuffle shape: community totals are joined into the NODE state
        once (vertex-scale) and ride the neighbour messages as ``tot_uc``
        through the (v, uc) aggregation, instead of being equi-joined
        into the candidate frame on uc and comm — the earlier form paid
        TWO candidate-scale (≈ edge-scale, early rounds) Exchanges per
        round for those lookups AND destroyed the v-partitioning that the
        best-move aggregation and the apply join reuse. Everything from
        ``enriched`` down stays hash-placed on v: best-move groupBy and
        the apply join plan with no further Exchange. Measured on the 6m
        tier (identical total moves): level-0 rounds
        10.1/8.4/5.7s -> 7.5/5.4/5.3s; query wall 56 -> 49s.

        r14 refinement — ONE edge-scale exchange per round, keyed on v
        (the k-core specialized loop's round shape, k_core.py
        _run_specialized): the neighbour-message stream is explicitly
        repartitioned on ``v`` BEFORE the (v, uc) aggregation, so the
        groupBy is satisfied by HashPartitioning(v) (subset-of-keys
        clustering) without inserting its own (v, uc) exchange, and the
        ``enriched`` join then reads the aggregate ALREADY placed on v —
        the old plan's second candidate-scale exchange (repartitioning
        the (v, uc) aggregate onto v for the enrich join) disappears.
        Trade: the v-exchange carries raw neighbour messages instead of
        map-side (v, uc)-combined pairs — early rounds communities are
        near-singletons so that combine removed almost nothing, and the
        bytes saved by skipping the second exchange dominate. Measured
        on the 6m tier (bit-identical outputs, same 6,124,345 total
        moves): per-plan Exchanges 5 -> 4; see OPTIMIZATION_r14.md for
        the wall numbers."""
        # vertex-scale: each node learns its community's current total
        tot = nodes.groupBy("comm").agg(F.sum("k").alias("tot"))
        ntot = nodes.join(tot, "comm")  # [comm, v, k, tot]
        # weight from each vertex into each neighbouring community; the
        # neighbour's community total rides the message (every u in uc
        # carries the same tot, so max() just deduplicates it)
        msg = adj.join(
            ntot.select(
                F.col("v").alias("u"),
                F.col("comm").alias("uc"),
                F.col("tot").alias("tot_c"),
            ),
            "u",
        ).select("v", "uc", "w", "tot_c")
        # ONE edge-scale exchange keyed on v satisfies the (v, uc)
        # aggregation (subset-of-keys clustering) and everything below
        nbrc = (
            msg.repartition(shuffle_n, "v")
            .groupBy("v", "uc")
            .agg(F.sum("w").alias("kvc"), F.max("tot_c").alias("tot_c"))
        )
        enriched = nbrc.join(
            ntot.select("v", "comm", "k", F.col("tot").alias("tot_own")), "v"
        )
        own = enriched.filter(F.col("uc") == F.col("comm")).select(
            "v", F.col("kvc").alias("kv_own")
        )
        cand = enriched.filter(F.col("uc") != F.col("comm")).join(
            own, "v", "left"
        )
        gain = (
            (F.col("kvc") - F.coalesce(F.col("kv_own"), F.lit(0.0))) / F.lit(m)
            - F.col("k")
            * (F.col("tot_c") - F.col("tot_own") + F.col("k"))
            / F.lit(2.0 * m * m)
        )
        best = cand.groupBy("v").agg(
            F.max(F.struct(gain.alias("g"), (-F.col("uc")).alias("negc"))).alias("b")
        )
        # per-round hash-parity gate: a (deterministic) random half of the
        # vertices may APPLY their move each round. Seeding the hash with
        # the round number re-draws the half every round — two adjacent
        # vertices that would endlessly swap communities under a FIXED
        # parity (both allowed on the same rounds) land in different halves
        # within a round or two, so symmetric swap cycles die out.
        # Convergence counts vertices that WANT to move (pre-gate): a round
        # whose permitted half happens to be settled must not end the loop
        # while the other half still has positive-gain moves pending.
        parity_ok = F.pmod(F.xxhash64(F.col("v"), F.lit(rnd)), F.lit(2)) == 0
        wants = best.filter(F.col("b.g") > _GAIN_EPS).select(
            "v", (-F.col("b.negc")).alias("__to"), parity_ok.alias("__go")
        )

        obs = Observation()
        # nodes is a v-bucketed scan and wants ends in a groupBy("v") —
        # both sides arrive hash-placed on v, so the apply join plans
        # without an Exchange and the result is ALREADY v-partitioned:
        # assume_partitioned elides the pre-write repartition (worst case
        # if the guarantee failed: buckets span extra files, never a
        # misjoin — see push_bucketed)
        new_nodes = ckpt.push_bucketed(
            nodes.join(wants, "v", "left")
            .select(
                "v",
                F.when(F.col("__go"), F.col("__to"))
                .otherwise(F.col("comm"))
                .alias("comm"),
                "k",
                F.col("__to").isNotNull().alias("__want"),
            )
            .observe(obs, F.sum(F.col("__want").cast("int")).alias("wanted"))
            .drop("__want"),
            "v",
            shuffle_n,
            f"nodes_r{rnd}",
            assume_partitioned=True,
        )
        ckpt.evict_all_but_latest(1)
        return int(obs.get["wanted"] or 0), new_nodes
