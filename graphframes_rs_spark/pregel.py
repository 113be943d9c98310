"""Generic Pregel engine as relational dataflow on DataFrames.

Re-expresses the reference's vertex-centric message-passing engine
(reference: src/algorithm/pregel.rs:230-546) Spark-first:

superstep = project src state  →  inner-join edges on src
          (→ optional inner-join dst state)
          →  one projection per message, unioned **by name**
          →  groupBy(id).agg(aggregates)            # message delivery
          →  left-join back onto state              # null = no message
          →  apply update expressions in one select
          →  checkpoint (lineage truncation) with the voting count
             riding the write as an observe() metric → early exit

Differences from the reference that are deliberate Spark-first choices:
  * message frames are combined with ``unionByName(allowMissingColumns=True)``
    — Spark supports this natively, so the reference's null-padding
    workaround (pregel.rs:440-464) is unnecessary;
  * per-superstep lineage truncation uses a parquet round-trip through
    :class:`ParquetCheckpointer` (eviction keeps only the latest states);
  * loop control lives in Python on the driver, convergence = zero active
    voters or the iteration cap — same contract as the reference, but the
    active count is an ``observe()`` metric on the checkpoint write, not a
    second action per superstep (the reference pays one, pregel.rs:504-509).

Scale notes (100 TB design intent): the only shuffles per superstep are
(1) the state⋈edges join on src, (2) the message groupBy on id, and
(3) the message⋈state delivery join on id — all keyed on vertex id, so a
fixed ``spark.sql.shuffle.partitions`` keeps them aligned; AQE handles
skewed high-degree vertices. The edges frame is checkpointed once,
pre-partitioned by ``src``. ``skip_dest_state`` halves the join cost and
enables source-side participation pruning before the join, which Catalyst
pushes into the checkpoint scan.
"""

from __future__ import annotations

import enum
import time
import warnings
from functools import reduce
from typing import Callable, Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from graphframes_rs_spark import config as gf_config
from graphframes_rs_spark.graphframe import DST, ID, SRC
from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer

DEFAULT_MSG = "__default"

_SRC_PREFIX = "__pregel_src_"
_DST_PREFIX = "__pregel_dst_"
_EDGE_PREFIX = "__pregel_edge_"
_MSG_PREFIX = "__pregel_msg_"


def _vote_active_count(obs: Observation, timeout_s: float = 120.0):
    """The observed per-superstep 'active' vote count, with a BOUNDED wait.

    Exact interval>1 voting relies on Spark reporting CollectMetrics nodes
    embedded in persisted intermediate plans when the write job materializes
    the cache — true today (pinned by the checkpoint-interval pytest suite),
    but a blocking ``Observation.get`` would hang the driver with no
    diagnostic if a Spark upgrade ever stopped propagating metrics through
    InMemoryRelation. Poll the JVM-side non-blocking ``getRowOrEmpty``
    until the metric lands or ``timeout_s`` expires; on timeout return
    ``None`` with a warning so the caller treats the vote as still-active —
    a semantics change degrades to bounded overshoot, never a hang. If the
    internal handle is unavailable (API drift), fall back to the blocking
    get, i.e. pre-guard behavior."""
    jo = getattr(obs, "_jo", None)
    if jo is not None:
        try:
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                if jo.getRowOrEmpty().isDefined():
                    # sum() over an empty state observes NULL: that IS a
                    # zero-active fixpoint, distinct from timeout-None
                    return obs.get["active"] or 0
                time.sleep(0.05)
            warnings.warn(
                "pregel voting metric not reported within "
                f"{timeout_s}s (Spark stopped propagating CollectMetrics "
                "through cached plans?); treating the superstep as "
                "still-active — convergence may overshoot by up to "
                "checkpoint_interval rounds",
                RuntimeWarning,
                stacklevel=2,
            )
            return None
        except Exception:  # py4j API drift: degrade to the blocking read
            pass
    return obs.get["active"] or 0


class MessageDirection(enum.Enum):
    SRC_TO_DST = "src_to_dst"
    DST_TO_SRC = "dst_to_src"
    BIDIRECTIONAL = "bidirectional"


class Pregel:
    """Column helpers usable inside user expressions
    (reference: pregel.rs:83-101)."""

    @staticmethod
    def src(col: str) -> Column:
        """The source vertex's state column, inside a message expression."""
        return F.col(_SRC_PREFIX + col)

    @staticmethod
    def dst(col: str) -> Column:
        """The destination vertex's state column (requires dst state join)."""
        return F.col(_DST_PREFIX + col)

    @staticmethod
    def edge(col: str) -> Column:
        """An edge attribute column declared via ``add_edge_column``."""
        if col in (SRC, DST):
            return F.col(col)
        return F.col(_EDGE_PREFIX + col)

    @staticmethod
    def msg(name: str = DEFAULT_MSG) -> Column:
        """The aggregated message, inside update/voting/participation exprs."""
        return F.col(_MSG_PREFIX + name)


class PregelBuilder:
    """Builder surface mirroring reference pregel.rs:103-224."""

    def __init__(self, graph: "GraphFrame"):
        self.graph = graph
        self._max_iterations: Optional[int] = None
        self._vertex_columns: List[Tuple[str, Column, Column]] = []
        self._edge_columns: List[str] = []
        self._messages: List[Tuple[str, Column, MessageDirection]] = []
        self._aggregates: Dict[str, Column] = {}
        self._voting: Optional[Tuple[str, Column]] = None
        self._participation: Optional[Tuple[str, Column, Column]] = None
        self._skip_dest_state = False
        self._edges_materialized = False
        self._count_compressed: set = set()
        self._checkpoint_dir: Optional[str] = None
        self._keep_internal_columns = False
        self._checkpoint_interval: Optional[int] = None
        self.iterations_: int = 0

    # -- configuration ------------------------------------------------------
    def max_iterations(self, n: int) -> "PregelBuilder":
        self._max_iterations = n
        return self

    def with_checkpoint_interval(self, k: int) -> "PregelBuilder":
        """Write the parquet checkpoint every ``k``-th superstep instead of
        every superstep (classic GraphFrames ``checkpointInterval``); the
        supersteps in between keep their state as a persisted (memory/disk)
        in-memory relation, which preserves the id partitioning so the
        exchange-free superstep join shape is unchanged. Halved (k=2)
        checkpoint IO per superstep at the cost of caching one state copy.

        Voting stays EXACT for any interval: every superstep (persisted
        ones included) carries an ``observe()`` voting metric, and all of
        them are reported by the single write job that materializes the
        chain — zero extra actions. If an intermediate superstep already
        hit the fixpoint, the engine rolls the result back to that
        superstep's cached state, so the returned frame and ``iterations_``
        are bit-identical to ``k = 1`` even for non-monotone programs
        (e.g. tol-mode PageRank, whose values keep moving after the last
        delta crosses tol). The only cost of overshoot is the wasted
        compute of up to ``k - 1`` rounds inside that one write job.
        Defaults to the session config
        ``spark.graphframes.pregel.checkpointInterval`` (2)."""
        if k < 1:
            raise ValueError("checkpoint interval must be >= 1")
        self._checkpoint_interval = k
        return self

    def with_vertex_voting(self, col: str, cond: Column) -> "PregelBuilder":
        """Early stop: ``cond`` is recomputed for every vertex each superstep
        (it may reference old state + messages); the loop ends when no vertex
        is active (pregel.rs:135-140, 504-518)."""
        self._voting = (col, cond)
        return self

    def add_vertex_column(self, name: str, init: Column, update: Column) -> "PregelBuilder":
        """Stateful vertex column: ``init`` before superstep 0; ``update``
        evaluated each superstep over old columns + aggregated messages."""
        self._vertex_columns.append((name, init, update))
        return self

    def add_edge_column(self, name: str) -> "PregelBuilder":
        """Carry an extra edge attribute into the triplet (src/dst always
        included)."""
        self._edge_columns.append(name)
        return self

    def with_participation_column(
        self, col: str, init: Column, cond: Column
    ) -> "PregelBuilder":
        """Per-vertex "still emits messages" flag. With ``skip_dest_state``
        the filter prunes the source side *before* the join; otherwise rows
        where neither endpoint participates are dropped after the join
        (pregel.rs:161-173, 383-438)."""
        self._participation = (col, init, cond)
        return self

    def add_message(self, expr: Column, direction: MessageDirection) -> "PregelBuilder":
        return self.add_named_message(DEFAULT_MSG, expr, direction)

    def add_named_message(
        self, name: str, expr: Column, direction: MessageDirection
    ) -> "PregelBuilder":
        """Message expression over the triplet; direction picks the delivery
        key (dst id for SRC_TO_DST, src id for DST_TO_SRC; BIDIRECTIONAL
        emits both)."""
        self._messages.append((name, expr, direction))
        return self

    def add_aggregate_expr(self, expr: Column) -> "PregelBuilder":
        return self.add_named_aggregate_expr(DEFAULT_MSG, expr)

    def add_named_aggregate_expr(self, name: str, expr: Column) -> "PregelBuilder":
        """Merge function for message ``name`` — an aggregate Column over
        ``Pregel.msg(name)`` (e.g. ``F.sum(Pregel.msg())``).

        NULL-padding contract: with MULTIPLE named plain messages, the
        per-name frames are assembled with
        ``unionByName(allowMissingColumns=True)`` before one shared groupBy,
        so rows originating from message A carry NULL in message B's column.
        Aggregates must therefore ignore NULLs — ``min``/``max``/``sum``/
        ``avg``/``collect_list`` all do; null-sensitive forms such as
        ``F.count(F.lit(1))`` or ``F.first(ignorenulls=False)`` would see
        the padding rows (use ``F.count(Pregel.msg(name))`` instead, which
        counts only that message's own rows)."""
        self._aggregates[name] = expr
        return self

    def with_count_compressed_messages(self, *names: str) -> "PregelBuilder":
        """Value-count compression for the named messages (default message:
        no args). The delivery aggregate runs as two stages —
        ``groupBy(id, msg).count()`` then ``groupBy(id)`` — so identical
        message values to the same vertex combine map-side BEFORE the
        shuffle. The user aggregate expression then sees
        ``Pregel.msg(name)`` as ``struct(value, cnt: long)`` pairs instead
        of raw values.

        This is the hub-vertex survival dial at scale: a vertex of degree
        10^6 whose neighbours hold ~100 distinct values shuffles ~100
        (value, count) rows per map task instead of 10^6 raw messages.
        Only worthwhile for merge functions expressible over a value
        histogram (k-core's H-index is; a plain sum doesn't need it —
        partial aggregation already combines sums map-side).
        """
        self._count_compressed.update(names or [DEFAULT_MSG])
        return self

    def with_materialized_edges(self) -> "PregelBuilder":
        """Caller contract: the graph's edge frame is ALREADY materialized
        (checkpointed/bucketed by ``src``) and projected to src/dst + any
        declared edge columns, so the engine must not offload it again.
        Use when the algorithm derives prep state (degrees, seeds) from the
        same prepared edge set — sharing one materialization instead of
        recomputing the prep pipeline once per consumer. The per-superstep
        join still sees hash-placed, sorted edges if the caller used
        ``push_bucketed`` (the degrees groupBy then also runs exchange-free
        off the same scan)."""
        self._edges_materialized = True
        return self

    def skip_dest_state(self) -> "PregelBuilder":
        """Omit the dst-vertex join: messages may only read src state + edge
        attrs. Halves join cost and enables pre-join participation pruning."""
        self._skip_dest_state = True
        return self

    def set_checkpoint_dir(self, directory: str) -> "PregelBuilder":
        self._checkpoint_dir = directory
        return self

    def keep_internal_columns(self) -> "PregelBuilder":
        """Debug: keep voting/participation columns in the output."""
        self._keep_internal_columns = True
        return self

    # -- execution ----------------------------------------------------------
    def run(self) -> DataFrame:
        """Run the superstep loop; returns the final (materialized) vertex
        state. ``self.iterations_`` holds the executed superstep count."""
        if not self._messages:
            raise ValueError("Pregel requires at least one message")
        msg_names = sorted({name for name, _, _ in self._messages})
        missing = [n for n in msg_names if n not in self._aggregates]
        if missing:
            raise ValueError(f"missing aggregate expression for message(s): {missing}")
        unknown = self._count_compressed - set(msg_names)
        if unknown:
            raise ValueError(f"count-compressed message(s) not declared: {sorted(unknown)}")
        if self._max_iterations is None and self._voting is None:
            raise ValueError(
                "set max_iterations and/or with_vertex_voting — otherwise the loop never ends"
            )
        max_iter = self._max_iterations if self._max_iterations is not None else 2**31

        spark = self.graph.vertices.sparkSession
        ckpt_interval = (
            self._checkpoint_interval
            if self._checkpoint_interval is not None
            else gf_config.pregel_checkpoint_interval(spark)
        )
        # Two checkpoint pools: `pinned` holds the edges offload (must stay
        # live for the whole run) and the final state; `rotating` holds the
        # per-superstep states, evicted as the loop advances.
        base = self._checkpoint_dir
        pinned = ParquetCheckpointer(spark, None if base is None else base + "/pinned")
        if base is None:
            base = pinned.directory
        rotating = ParquetCheckpointer(spark, base + "/rotating")
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

        # Bucketed checkpoints: state and edges come back declaring
        # HashPartitioning(key, N), so the per-superstep state⋈edges SMJ
        # runs with no Exchange on either side — the reference's
        # shuffle-free sorted-merge iteration (SURVEY.md §4) in native
        # Spark bucket metadata. One sorted file per bucket is guaranteed
        # by push_bucketed, so the scan may declare its sort order too —
        # the superstep SMJ then elides its per-side Sort as well as the
        # Exchange. Spark only applies sorted metadata when a bucket has
        # exactly one file, so this is safe to leave set session-wide.
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")

        # -- init state (pregel.rs:266-270, 326-348) ------------------------
        state = self.graph.vertices
        for name, init, _ in self._vertex_columns:
            state = state.withColumn(name, init)
        if self._participation is not None:
            p_name, p_init, _ = self._participation
            state = state.withColumn(p_name, p_init)
        if self._voting is not None:
            v_name, _ = self._voting
            state = state.withColumn(v_name, F.lit(True))
        state = rotating.push_bucketed(state, ID, shuffle_n, "state")

        # -- offload edges once, partitioned by src (pregel.rs:351-368) -----
        if self._edges_materialized:
            # the caller's frame must already be projected to src/dst plus
            # every declared edge column under its engine-internal alias
            # (_EDGE_PREFIX + name) — i.e. the exact projection the engine
            # would otherwise checkpoint itself
            expected = [SRC, DST] + [
                _EDGE_PREFIX + c for c in self._edge_columns
            ]
            missing = [c for c in expected if c not in self.graph.edges.columns]
            if missing:
                raise ValueError(
                    "with_materialized_edges requires the edge frame to "
                    f"already carry {expected}; missing {missing} — alias "
                    "declared edge columns with the engine prefix before "
                    "checkpointing them"
                )
            edges = self.graph.edges.select(*expected)
        else:
            edge_proj = [F.col(SRC), F.col(DST)] + [
                F.col(c).alias(_EDGE_PREFIX + c) for c in self._edge_columns
            ]
            edges = pinned.push_bucketed(
                self.graph.edges.select(*edge_proj), SRC, shuffle_n, "edges"
            )
        n_edge_ckpts = pinned.num_checkpoints  # 0 if edges pre-materialized/empty

        needs_dst = not self._skip_dest_state
        cached_states: list = []
        # (superstep_number, Observation, persisted_state) per not-yet-read
        # voting metric; persisted_state is None for the write superstep.
        pending_votes: list = []
        iteration = 0
        while iteration < max_iter:
            state_cols = state.columns

            # 1. source-side projection (+ pre-join participation prune)
            src_side = state.select(
                *[F.col(c).alias(_SRC_PREFIX + c) for c in state_cols]
            )
            if self._participation is not None and self._skip_dest_state:
                src_side = src_side.filter(
                    F.col(_SRC_PREFIX + self._participation[0])
                )

            # 2. triplet assembly
            trip = src_side.join(
                edges, src_side[_SRC_PREFIX + ID] == edges[SRC], "inner"
            )
            if needs_dst:
                dst_side = state.select(
                    *[F.col(c).alias(_DST_PREFIX + c) for c in state_cols]
                )
                trip = trip.join(
                    dst_side, trip[DST] == dst_side[_DST_PREFIX + ID], "inner"
                )
                if self._participation is not None:
                    p = self._participation[0]
                    trip = trip.filter(
                        F.col(_SRC_PREFIX + p) | F.col(_DST_PREFIX + p)
                    )

            # 3. per-message projection, combined by name
            msg_frames = []  # (frame, {names held}) pairs
            for name, expr, direction in self._messages:
                if direction in (
                    MessageDirection.SRC_TO_DST,
                    MessageDirection.BIDIRECTIONAL,
                ):
                    msg_frames.append(
                        (
                            trip.select(
                                F.col(DST).alias(ID), expr.alias(_MSG_PREFIX + name)
                            ),
                            {name},
                        )
                    )
                if direction in (
                    MessageDirection.DST_TO_SRC,
                    MessageDirection.BIDIRECTIONAL,
                ):
                    msg_frames.append(
                        (
                            trip.select(
                                F.col(SRC).alias(ID), expr.alias(_MSG_PREFIX + name)
                            ),
                            {name},
                        )
                    )
            # 4. message aggregation (one shuffle on id). Count-compressed
            # names aggregate in two stages — groupBy(id, value).count()
            # combines duplicates map-side, then groupBy(id) applies the
            # user aggregate over struct(value, cnt) — and are joined
            # back onto the plain aggregate frame by id.
            plain_names = [n for n in msg_names if n not in self._count_compressed]
            packed_names = [n for n in msg_names if n in self._count_compressed]

            msgs = None
            if plain_names:
                plain_frames = [
                    f for f, names in msg_frames if any(n in plain_names for n in names)
                ]
                combined = reduce(
                    lambda a, b: a.unionByName(b, allowMissingColumns=True),
                    plain_frames,
                )
                agg_exprs = [
                    self._aggregates[n].alias(_MSG_PREFIX + n) for n in plain_names
                ]
                msgs = combined.groupBy(ID).agg(*agg_exprs)
            for n in packed_names:
                frames = [f for f, names in msg_frames if n in names]
                combined = reduce(
                    lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
                )
                col = _MSG_PREFIX + n
                packed = (
                    combined.groupBy(ID, col)
                    .agg(F.count(F.lit(1)).alias("__pregel_cnt"))
                    .select(
                        ID,
                        F.struct(
                            F.col(col).alias("value"),
                            F.col("__pregel_cnt").alias("cnt"),
                        ).alias(col),
                    )
                    .groupBy(ID)
                    .agg(self._aggregates[n].alias(col))
                )
                msgs = packed if msgs is None else msgs.join(packed, ID, "full")

            # 5. delivery: left join (no message -> NULL) + update select
            joined = state.join(
                msgs.withColumnRenamed(ID, "__pregel_msg_id"),
                state[ID] == F.col("__pregel_msg_id"),
                "left",
            )
            update_for = {name: upd for name, _, upd in self._vertex_columns}
            select_exprs = []
            for c in state_cols:
                if c in update_for:
                    select_exprs.append(update_for[c].alias(c))
                elif self._participation is not None and c == self._participation[0]:
                    select_exprs.append(self._participation[2].alias(c))
                elif self._voting is not None and c == self._voting[0]:
                    select_exprs.append(self._voting[1].alias(c))
                else:
                    select_exprs.append(F.col(c))
            new_state = joined.select(*select_exprs)

            # 6+7. checkpoint (truncate lineage) with the voting count
            # observed DURING the write — the reference pays a second
            # action per superstep for voting (pregel.rs:504-518); an
            # observe() metric rides the write job instead, so voting
            # costs zero extra jobs and zero extra state scans.
            #
            # With checkpoint_interval k > 1, only every k-th superstep
            # writes; the ones between persist their state (memory/disk) —
            # the persisted relation keeps the join output's partitioning
            # and ordering, so the next superstep's plan shape is unchanged
            # and the state computes once per write job (both consumers of
            # a cached state read the same materialization). EVERY superstep
            # still carries its own voting observe() — CollectMetrics nodes
            # of the whole persisted chain report when the write job runs —
            # so after the write we replay the votes in superstep order and,
            # if an intermediate round already hit the fixpoint, roll back
            # to its cached state: results and iterations_ are exact for
            # any interval, monotone or not.
            is_write = ((iteration + 1) % ckpt_interval == 0) or (
                iteration + 1 >= max_iter
            )
            if self._voting is not None:
                obs = Observation()
                new_state = new_state.observe(
                    obs,
                    F.sum(F.col(self._voting[0]).cast("long")).alias("active"),
                )
            else:
                obs = None
            if not is_write:
                state = new_state.persist()
                cached_states.append(state)
                if obs is not None:
                    pending_votes.append((iteration + 1, obs, state))
                iteration += 1
                continue

            # The delivery join is keyed on the vertex id: its output (SMJ or
            # BHJ alike) already carries Murmur3 HashPartitioning(id, N) from
            # the state scan / inserted message exchange, so the checkpoint
            # write skips its own repartition — one full state-sized exchange
            # elided from EVERY superstep.
            state = rotating.push_bucketed(
                new_state, ID, shuffle_n, "state", assume_partitioned=True
            )
            if obs is not None:
                pending_votes.append((iteration + 1, obs, None))
            iteration += 1

            # Replay voting metrics oldest-first: the first zero-active
            # superstep is the true fixpoint. The write job that just ran
            # materialized every CollectMetrics in the chain, so the reads
            # resolve immediately — but each is bounded-wait guarded (see
            # _vote_active_count) so a Spark metrics-propagation change
            # degrades to overshoot, not a silent driver hang.
            converged = False
            for step_no, step_obs, cached in pending_votes:
                active = _vote_active_count(step_obs)
                if active == 0:  # None (timeout) != 0: stays active
                    converged = True
                    if cached is not None:
                        # Fixpoint landed on a persisted superstep: re-issue
                        # its cached state as the checkpoint of record
                        # (writes from the memory cache — no recompute; the
                        # returned scan reads parquet, not the cache) and
                        # discard the overshoot write.
                        state = rotating.push_bucketed(
                            cached, ID, shuffle_n, "state", assume_partitioned=True
                        )
                        iteration = step_no
                    break
            pending_votes = []
            rotating.evict_all_but_latest(1)
            for cached in cached_states:
                cached.unpersist()
            cached_states = []
            if converged:
                break

        self.iterations_ = iteration
        for cached in cached_states:  # defensive: loop always ends on a write
            cached.unpersist()

        drop_cols = []
        if not self._keep_internal_columns:
            if self._voting is not None:
                drop_cols.append(self._voting[0])
            if self._participation is not None:
                drop_cols.append(self._participation[0])
        result = state.drop(*drop_cols) if drop_cols else state
        # Re-materialize through the pinned pool so the rotating pool (and
        # the edges offload) can be reclaimed while the result stays live.
        final = pinned.push(result, "final")
        pinned.evict(n_edge_ckpts)  # edges offload no longer needed
        rotating.purge()
        return final
