"""Engine configuration via ``spark.graphframes.*`` session conf keys.

Mirrors the reference's ``GraphFramesConfig`` registered engine options
(reference: src/utils/options.rs:5-21 — ``graphframes.checkpoint_dir``)
as Spark session configuration, the idiomatic place for engine knobs. All
keys are read lazily at algorithm run time, so ``spark.conf.set(...)``
takes effect per run.

Checkpoints are always hash-bucketed sorted tables (the reference's
``push_pre_sorted`` contract, §4 of SURVEY.md). The reference's
sort-merge-join pin has no key here: Spark's AQE picks the join strategy,
and callers who want to force sort-merge joins set Spark's own join keys
on their session.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession

# Where iterative algorithms place their parquet/bucketed checkpoints when
# the builder did not set one (reference: graphframes.checkpoint_dir).
CHECKPOINT_DIR = "spark.graphframes.checkpointDir"


def _get(spark: SparkSession, key: str, default: Optional[str]) -> Optional[str]:
    try:
        return spark.conf.get(key, default)
    except Exception:
        return default


def default_checkpoint_dir(spark: SparkSession) -> Optional[str]:
    return _get(spark, CHECKPOINT_DIR, None)


# Parquet-checkpoint cadence for Pregel supersteps (classic GraphFrames
# checkpointInterval): intermediate supersteps persist in memory/disk and
# only every k-th writes parquet. 1 = write every superstep. Default 2,
# from measurement: halved checkpoint IO nets 15-25% on the iterative
# bench queries. Voting stays exact at any interval — every superstep's
# voting metric rides the write job via observe(), and the engine rolls
# back to the cached fixpoint state if an intermediate round converged —
# so interval only changes IO cadence, never results or iterations_.
PREGEL_CHECKPOINT_INTERVAL = "spark.graphframes.pregel.checkpointInterval"


def int_conf(spark: SparkSession, key: str, default: int, minimum: int) -> int:
    """The session's integer value of ``key`` (``default`` when unset);
    raises ``ValueError`` naming the key for a non-integer value or one
    below ``minimum``. Callers read their keys before their first Spark
    job, so a bad value fails fast and leaves nothing behind."""
    raw = _get(spark, key, str(default))
    try:
        k = int(raw)
    except (TypeError, ValueError):
        k = None
    if k is None or k < minimum:
        raise ValueError(f"{key} must be an integer >= {minimum}, got {raw!r}")
    return k


def pregel_checkpoint_interval(spark: SparkSession) -> int:
    """The session's checkpoint interval (>= 1), the same contract as
    ``PregelBuilder.with_checkpoint_interval``."""
    return int_conf(spark, PREGEL_CHECKPOINT_INTERVAL, 2, 1)


# Gated fast path for closed-triangle motif patterns in find(): enumerate
# undirected triangles with degree-ordered wedges (bounding wedge fan-out
# by the LOW-degree endpoint, the classic hub mitigation), then expand to
# the pattern's directed bindings from per-pair direction counts. Same
# bindings as the naive join chain — including duplicate-edge
# multiplicities and self-loop degenerate matches — at a fraction of the
# intermediate size on hub-heavy graphs. Disable to force the literal
# term-order join chain.
MOTIF_TRIANGLE_FAST_PATH = "spark.graphframes.motif.triangleFastPath"


def motif_triangle_fast_path(spark: SparkSession) -> bool:
    return str(_get(spark, MOTIF_TRIANGLE_FAST_PATH, "true")).lower() == "true"


# Specialized k-core loop (default on): the H-index fixpoint iterated as a
# direct single-exchange-per-round dataflow instead of a generic Pregel
# client — measured 44-55s vs 60-103s for the Pregel form on the skew18m
# bench tier (18M edges, 364k-degree hub, 7 refinements, local[32]).
# Disable to route through the Pregel builder (the two forms are
# equivalence-tested; incremental/count-compressed modes always use Pregel).
KCORE_SPECIALIZED_LOOP = "spark.graphframes.kcore.specializedLoop"


def kcore_specialized_loop(spark: SparkSession) -> bool:
    return str(_get(spark, KCORE_SPECIALIZED_LOOP, "true")).lower() == "true"
