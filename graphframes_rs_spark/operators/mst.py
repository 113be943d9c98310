"""Minimum spanning forest via distributed Borůvka.

The reference engine ships connectivity (WCC/SCC), paths, and k-core but
no spanning-tree operator (`/root/reference/src/algorithm/` has no MST
module); this is a first-class extension the same user population asks of
a graph engine — clustering backbones, network design, single-linkage
hierarchies. Borůvka is THE distributed-friendly MST algorithm: each
round every component picks its minimum outgoing edge, the chosen edges
merge components, and the component count at least halves — O(log V)
rounds regardless of graph size.

Spark-first design:

- Rounds are DataFrame aggregations: the edge frame carries its endpoint
  component labels, so the per-component choice is ONE
  ``groupBy(component).min(struct(weight, src, dst, other))`` — Spark's
  map-side partial min makes it combine-enabled, never a shuffle of
  whole posting lists. The struct min plans as a SortAggregate (struct
  buffers are not hash-aggregable), which was MEASURED to beat the
  obvious two-pass alternative (HashAgg min(weight) + join-back +
  struct-min over tie candidates): 1.1-2.6s vs 3.0-5.6s per round on the
  6M-edge tier — the join's second pass over the 2|E| rows costs more
  than the partial sort saves. Keep the single aggregate.
- The chosen-edge graph (one out-edge per component) is a pseudoforest
  whose cycles are provably 2-cycles: the min is taken over a TOTAL
  order ``struct(weight, src, dst)``, so a pointer cycle must ride a
  single edge chosen from both ends (distinct edges cannot tie in the
  struct order, and following pointers the chosen struct is
  non-increasing). Cycle-break: the smaller endpoint of a mutual pair
  becomes the root.
- Contraction = pointer jumping (``parent := parent(parent)``) until
  fixpoint — O(log depth) self-joins on a per-round table with one row
  per surviving component.
- Every round's survivors are parquet-checkpointed (lineage truncation,
  same contract as WCC/k-truss); loop-control counts ride the writes as
  ``observe()`` metrics (zero probe jobs), and below
  ``spark.graphframes.mst.localFinishComponents`` the hook forest
  resolves in one numpy pointer-doubling task (WCC-style tail collapse).

At 100 TB: intra-component edges leave the frame permanently each round
and the component count at least halves, so the working set shrinks
geometrically; all joins are keyed on int64 labels (AQE skew-splits
giant components); no driver-side state exists beyond the loop counter.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graphframes_rs_spark.config import int_conf
from graphframes_rs_spark.graphframe import DST, GraphFrame, SRC

# Below this many surviving components the hook forest is resolved by ONE
# single-task numpy pointer-doubling pass instead of distributed jump
# rounds (same tail-collapse contract as the WCC local finisher: after a
# couple of Borůvka rounds the component table fits a task no matter the
# starting size). 5M rows ≈ 80 MB of int64 pairs.
LOCAL_FINISH_COMPONENTS = "spark.graphframes.mst.localFinishComponents"
# Same single-task-straggler reasoning as WCC's localFinishEdges (see
# connected_components.py): measured on the 6M-edge tier the forest
# resolve is not MST's dominant cost (38.6s at 5M vs 36.8s at 200k), but
# a 5M-row serial task still stalls a real cluster; 500k keeps the tail
# bounded at ~8 MB for one task.
DEFAULT_LOCAL_FINISH_COMPONENTS = 500_000

# Below this many surviving EDGES the whole remaining contracted graph is
# finished by one single-task numpy Borůvka (the WCC localFinishEdges
# move applied to MST): the distributed loop's late rounds each pay the
# full round machinery — chosen aggregate, hook, jumps, two relabel
# joins, a checkpoint write — over a geometrically tiny frame, so ~5
# tail rounds collapse into one task. The local pass replays the EXACT
# distributed semantics (same (w, u, v, other) total order, same
# mutual-pair rooting, same pointer jumping), so the picked edge set is
# bit-identical — including under weight ties — to what the distributed
# rounds would choose. 500k rows ≈ 20 MB for one task.
LOCAL_FINISH_EDGES = "spark.graphframes.mst.localFinishEdges"
DEFAULT_LOCAL_FINISH_EDGES = 500_000


def _local_msf(edges: DataFrame) -> DataFrame:
    """[u, v, w] — minimum spanning forest of a SMALL contracted edge
    frame (columns u, v, w, cu, cv), computed in ONE task by replaying
    the distributed Borůvka rounds in numpy: per-component lexicographic
    min over (w, u, v, other), mutual-pair rooting at the smaller
    endpoint, pointer jumping, relabel, repeat until no inter-component
    edges remain. Identical output to the distributed rounds by
    construction (same total order, same hooking rule)."""

    def solve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cols = {k: [] for k in ("u", "v", "w", "cu", "cv")}
        for pdf in batches:
            for k in cols:
                cols[k].append(pdf[k].to_numpy())
        if not cols["u"]:
            return
        u = np.concatenate(cols["u"])
        v = np.concatenate(cols["v"])
        w = np.concatenate(cols["w"])
        cu = np.concatenate(cols["cu"])
        cv = np.concatenate(cols["cv"])
        picked = []
        while len(u):
            c = np.concatenate([cu, cv])
            other = np.concatenate([cv, cu])
            w2 = np.concatenate([w, w])
            u2 = np.concatenate([u, u])
            v2 = np.concatenate([v, v])
            # first row per component in the (w, u, v, other) total order
            # == min(struct(w, u, v, other)) of the distributed round
            order = np.lexsort((other, v2, u2, w2, c))
            oc = c[order]
            first = np.ones(len(oc), dtype=bool)
            first[1:] = oc[1:] != oc[:-1]
            idx = order[first]
            cc = c[idx]  # sorted ascending — searchsorted below is exact
            co = other[idx]
            picked.append((u2[idx], v2[idx], w2[idx]))
            # hook: parent = chosen other; a mutual pair roots at its
            # smaller endpoint (same rule as the distributed join)
            pos_co = np.searchsorted(cc, co)
            mutual = co[pos_co] == cc
            parent = np.where(mutual & (cc < co), cc, co)
            # pointer-jump the hook forest to roots
            ptr = np.searchsorted(cc, parent)
            while True:
                nxt = ptr[ptr]
                if np.array_equal(nxt, ptr):
                    break
                ptr = nxt
            root = cc[ptr]
            # relabel surviving edges into the contracted space
            cu = root[np.searchsorted(cc, cu)]
            cv = root[np.searchsorted(cc, cv)]
            keep = cu != cv
            u, v, w, cu, cv = u[keep], v[keep], w[keep], cu[keep], cv[keep]
        if picked:
            yield pd.DataFrame(
                {
                    "u": np.concatenate([p[0] for p in picked]),
                    "v": np.concatenate([p[1] for p in picked]),
                    "w": np.concatenate([p[2] for p in picked]),
                }
            )

    return edges.coalesce(1).mapInPandas(solve, "u long, v long, w double")


def _local_roots(parent: DataFrame) -> DataFrame:
    """[c, parent] with parent fully resolved to each tree's root — the
    single-task finisher for a SMALL hook forest. ``coalesce(1)`` (not
    repartition) because the input is a fresh checkpoint scan."""

    def solve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cs, ps = [], []
        for pdf in batches:
            cs.append(pdf["c"].to_numpy())
            ps.append(pdf["parent"].to_numpy())
        if not cs:
            return
        c = np.concatenate(cs)
        p = np.concatenate(ps)
        # every parent is itself a component with a chosen edge, so the id
        # universe is exactly `c`; map once and pointer-double to fixpoint
        ids, inv = np.unique(np.concatenate([c, p]), return_inverse=True)
        ci, pi = inv[: len(c)], inv[len(c):]
        ptr = np.arange(len(ids))
        ptr[ci] = pi
        while True:
            nxt = ptr[ptr]
            if np.array_equal(nxt, ptr):
                break
            ptr = nxt
        yield pd.DataFrame({"c": ids, "parent": ids[ptr]})

    return parent.coalesce(1).mapInPandas(solve, "c long, parent long")


class MSTBuilder:
    def __init__(self, graph: GraphFrame, weight_col: str = "weight"):
        self.graph = graph
        self.weight_col = weight_col
        self.max_iter = 64  # ≥ log2(V) for any conceivable V
        self._checkpoint_dir = None
        self.iterations_ = 0

    def max_iterations(self, n: int) -> "MSTBuilder":
        self.max_iter = n
        return self

    def set_checkpoint_dir(self, d: str) -> "MSTBuilder":
        self._checkpoint_dir = d
        return self

    def run(self) -> DataFrame:
        """Returns DataFrame[src, dst, weight] — the minimum spanning
        forest as canonical undirected edges (src < dst), one tree per
        connected component. Ties broken by (weight, src, dst), so the
        result is deterministic even with duplicate weights."""
        from graphframes_rs_spark.graphframe import GraphFrameError
        from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer

        if self.weight_col not in self.graph.edges.columns:
            raise GraphFrameError(
                f"minimum_spanning_forest: edge column {self.weight_col!r} "
                f"not found (edges have {self.graph.edges.columns}); pass "
                "weight_col= or add a weight column (e.g. lit(1.0) for an "
                "unweighted spanning forest)"
            )
        spark = self.graph.vertices.sparkSession
        local_edge_cut = int_conf(
            spark, LOCAL_FINISH_EDGES, DEFAULT_LOCAL_FINISH_EDGES, 0
        )
        local_cap = int_conf(
            spark, LOCAL_FINISH_COMPONENTS, DEFAULT_LOCAL_FINISH_COMPONENTS, 0
        )
        ckpt = ParquetCheckpointer(spark, self._checkpoint_dir)
        w = self.weight_col

        # Canonical undirected edges, min weight per unordered pair (a
        # spanning tree can only ever use the lightest parallel edge);
        # self-loops can never be in one. Component labels start as the
        # endpoints themselves.
        e = self.graph.edges.select(
            F.least(SRC, DST).alias("u"),
            F.greatest(SRC, DST).alias("v"),
            F.col(w).cast("double").alias("w"),
        ).filter(F.col("u") != F.col("v"))
        # NO per-pair dedup here (round 7): the old
        # ``groupBy(u, v).agg(min(w))`` pre-pass cost a full-size shuffle +
        # combine aggregate before round 1, but buys nothing the loop
        # doesn't already do — round 1's chosen-edge min ranges over ALL
        # parallel edges with the same total order (same winner), and the
        # round-1 relabel's per-pair ``min(struct(w, u, v))`` reduction
        # collapses the multiplicity for every later round. Only round 1's
        # ``sel`` frame carries parallels once, a narrow projection.
        # Measured on the 6M-edge bench tier (near-parallel-free, the
        # common case for hashed/graph inputs): the pre-pass was pure
        # overhead; for high-multiplicity inputs its work hasn't vanished —
        # it moved into the round-1 reduction where it runs ONCE instead
        # of twice. The checkpoint write stays: round 1 scans this frame 3x
        # (sel union reads it twice + the relabel join), so an arbitrary
        # upstream plan must be pinned, just not shuffled.
        obs0 = Observation()
        edges = ckpt.push(
            e.select(
                "u", "v", "w",
                F.col("u").alias("cu"), F.col("v").alias("cv"),
            )
            .observe(obs0, F.count(F.lit(1)).alias("n")),
            "mst_edges_0",
        )
        # Loop-control counts ride the checkpoint writes as observe()
        # metrics — zero extra jobs per round (same contract as Pregel's
        # voting). No eviction during the run: the per-round `chosen`
        # checkpoints are the MST accumulator (read once by the final
        # union), and total checkpoint volume is bounded by O(E) thanks to
        # the geometric edge-set shrink.
        n_edges = obs0.get["n"]
        picked_plans = []

        for rnd in range(1, self.max_iter + 1):
            if n_edges == 0:
                break
            self.iterations_ = rnd
            if n_edges <= local_edge_cut:
                # tail collapse: MSF of the whole remaining contracted
                # graph in one task — replaces the last ~5 rounds of
                # full round machinery over geometrically tiny frames
                picked_plans.append(
                    ckpt.push(_local_msf(edges), f"mst_local_{rnd}")
                )
                break

            # Min outgoing edge per component, total-ordered for the
            # 2-cycle guarantee.
            sel = edges.select(
                F.col("cu").alias("c"), F.col("cv").alias("other"),
                "w", "u", "v",
            ).unionByName(
                edges.select(
                    F.col("cv").alias("c"), F.col("cu").alias("other"),
                    "w", "u", "v",
                )
            )
            obsC = Observation()
            chosen = ckpt.push(
                sel.groupBy("c")
                .agg(F.min(F.struct("w", "u", "v", "other")).alias("m"))
                .select("c", "m.w", "m.u", "m.v", "m.other")
                .observe(obsC, F.count(F.lit(1)).alias("n")),
                f"mst_chosen_{rnd}",
            )
            n_comps = obsC.get["n"]
            picked_plans.append(chosen.select("u", "v", "w"))

            # Hook: parent = chosen neighbour component; a mutual pair
            # (both endpoints chose the same edge) roots at its smaller
            # endpoint. Cheap projections over the chosen checkpoint — no
            # materialization needed before the first jump write.
            c2 = chosen.select(
                F.col("c").alias("c2"), F.col("other").alias("other2")
            )
            parent = chosen.join(
                c2,
                (F.col("other") == F.col("c2"))
                & (F.col("c") == F.col("other2")),
                "left",
            ).select(
                "c",
                F.when(
                    F.col("c2").isNotNull() & (F.col("c") < F.col("other")),
                    F.col("c"),
                )
                .otherwise(F.col("other"))
                .alias("parent"),
            )

            if n_comps <= local_cap:
                # Tail collapse: resolve the whole hook forest in one task.
                parent = ckpt.push(_local_roots(parent), f"mst_roots_{rnd}")
                jump_range = range(0)
            else:
                jump_range = range(self.max_iter)

            # Pointer-jump to roots (trees after the cycle-break, so this
            # terminates; depth halves per jump). The change count is
            # observed DURING each jump's write.
            for jump in jump_range:
                p2 = parent.select(
                    F.col("c").alias("jc"), F.col("parent").alias("gp")
                )
                obs = Observation()
                jumped = (
                    parent.join(p2, parent["parent"] == p2["jc"], "left")
                    .select(
                        parent["c"],
                        F.coalesce("gp", "parent").alias("parent"),
                        (
                            F.col("gp").isNotNull()
                            & (F.col("gp") != parent["parent"])
                        ).cast("long").alias("__chg"),
                    )
                    .observe(obs, F.sum("__chg").alias("changed"))
                    .drop("__chg")
                )
                parent = ckpt.push(jumped, f"mst_jump_{rnd}_{jump}")
                if not (obs.get["changed"] or 0):
                    break

            # Relabel surviving edges into the contracted component space,
            # drop the now-intra-component ones, and REDUCE each component
            # pair to its single lightest edge. Without the reduction the
            # frame keeps every parallel original edge between a pair —
            # measured on the 6M-edge tier the late rounds carried 3.8M
            # edges between 371 components (round 6) and 2.9M between 47
            # (round 7), so every tail round paid full-size machinery.
            # The per-pair min(struct(w, u, v)) is ASSOCIATIVE with the
            # chosen-edge min — per-component argmin over pair minima ==
            # argmin over all parallel edges — so the picked forest is
            # bit-identical; the (cu, cv) groupBy is combine-enabled and
            # its map-side reduction is exactly where the parallel-edge
            # multiplicity lives.
            pmap_u = parent.select(
                F.col("c").alias("cu"), F.col("parent").alias("ncu")
            )
            pmap_v = parent.select(
                F.col("c").alias("cv"), F.col("parent").alias("ncv")
            )
            obsE = Observation()
            edges = ckpt.push(
                edges.join(pmap_u, "cu", "left")
                .join(pmap_v, "cv", "left")
                .select(
                    "u", "v", "w",
                    F.coalesce("ncu", "cu").alias("cu"),
                    F.coalesce("ncv", "cv").alias("cv"),
                )
                .filter(F.col("cu") != F.col("cv"))
                .groupBy("cu", "cv")
                .agg(F.min(F.struct("w", "u", "v")).alias("m"))
                .select(
                    F.col("m.u").alias("u"),
                    F.col("m.v").alias("v"),
                    F.col("m.w").alias("w"),
                    "cu",
                    "cv",
                )
                .observe(obsE, F.count(F.lit(1)).alias("n")),
                f"mst_edges_{rnd}",
            )
            n_edges = obsE.get["n"]

        out_schema = "src long, dst long, weight double"
        if not picked_plans:
            return spark.createDataFrame([], out_schema)
        mst = picked_plans[0]
        for p in picked_plans[1:]:
            mst = mst.unionByName(p)
        return mst.select(
            F.col("u").alias(SRC),
            F.col("v").alias(DST),
            F.col("w").alias("weight"),
        ).distinct()
