"""Similarity search over embedding columns.

* ``cosine_topk`` — exact brute-force top-k for a query set: one
  broadcast-able join + window row_number. The correctness baseline.
* ``lsh_topk``    — random-hyperplane LSH: embeddings bucketed by the sign
  pattern of dot products with p fixed hyperplanes; candidates restricted
  to bucket collisions across t independent tables, then exact cosine +
  top-k on the (much smaller) candidate set. The 100 TB path: bucket
  cardinality 2^p bounds every bucket join.

* ``blocked_cosine_candidates`` — all-pairs-over-threshold candidate
  generation via block-partitioned gram matrices: vectors are hashed into B
  blocks, every block pair is computed as ONE numpy/BLAS matrix multiply
  inside ``applyInPandas``. Work per task is (n/B)^2·d flops on Arrow
  batches; replication factor is B — both dials a cluster can turn
  independently of total data size. Callers re-score candidates with the
  exact sequential-fold SQL cosine, so approximate float ordering inside
  BLAS never leaks into results.

Exact vector math is SQL higher-order functions (``zip_with`` dot product,
``aggregate`` norms) — JVM-side, no Python workers, and the left-fold
summation order matches DuckDB's ``list_reduce`` bit-for-bit.
"""

from __future__ import annotations

import math
import random
import time
from typing import Iterable, List, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphframes_rs_spark.config import int_conf


def _instrument_persist(df, phase, phase_stats, pins):
    """Persist + count an intermediate so its wall is separable in a
    ``phase_stats`` trail, without pinning executor memory forever.

    When ``pins`` is a list the persisted handle is appended to it and the
    CALLER owns the release (unpersist after the downstream plan has run)
    — the bench does this per sample, so the probe/ADC join reuses the
    cached pass exactly as production consumes it once. When ``pins`` is
    None the handle is unpersisted immediately after the count: no
    memory pin survives the call, at the cost of the returned lazy plan
    recomputing this stage (the recorded phase wall is still the isolated
    measurement)."""
    df = df.persist()
    t0 = time.monotonic()
    n = df.count()
    phase_stats.append((phase, n, round(time.monotonic() - t0, 2)))
    if pins is not None:
        pins.append(df)
    else:
        df.unpersist()
    return df


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """[query_id, neighbor_id, cosine, rank]: exact top-k cosine neighbours
    for each query vector (self-matches excluded). ``queries`` has the same
    schema as ``embeddings``; broadcast it when small."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("qv"), F.col("nv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def blocked_cosine_candidates(
    embeddings: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 16,
    slack: float = 1e-9,
) -> DataFrame:
    """[id_a, id_b] (id_a < id_b) with cosine >= threshold - slack.

    The scale path for all-pairs similarity: rows are hashed into
    ``n_blocks`` blocks; each row is replicated once per block pair it
    participates in (factor B), and every (lo, hi) block-pair group computes
    its full gram matrix with one BLAS matmul. Shuffle volume is B·|data|;
    per-task memory is (n/B)^2 floats — at 100 TB you raise B so tasks stay
    executor-sized, instead of ever materializing the n^2 cross join.

    ``slack`` absorbs the (≤1e-14) difference between BLAS pairwise
    summation and the exact sequential fold used for re-scoring; callers
    MUST re-score candidates exactly and re-apply the threshold.
    """
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    keyed = base.select(
        "id",
        "v",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    ).select(
        "id",
        "v",
        "blk",
        F.least("blk", "other").alias("b_lo"),
        F.greatest("blk", "other").alias("b_hi"),
    )
    cut = float(threshold) - slack

    empty = pd.DataFrame({"id_a": pd.array([], dtype="int64"),
                          "id_b": pd.array([], dtype="int64")})

    def gram(key: Tuple[int, int], pdf: pd.DataFrame) -> pd.DataFrame:
        b_lo, b_hi = key
        left = pdf[pdf["blk"] == b_lo]
        right = pdf[pdf["blk"] == b_hi] if b_hi != b_lo else left
        if left.empty or right.empty:
            return empty
        la = np.stack(left["v"].to_numpy())
        ra = np.stack(right["v"].to_numpy())
        la = la / np.linalg.norm(la, axis=1, keepdims=True)
        ra = ra / np.linalg.norm(ra, axis=1, keepdims=True)
        g = la @ ra.T
        ids_l = left["id"].to_numpy()
        ids_r = right["id"].to_numpy()
        ii, jj = np.nonzero(g >= cut)
        if ii.size == 0:
            return empty
        id_a = ids_l[ii]
        id_b = ids_r[jj]
        if b_lo == b_hi:
            # diagonal group: gram holds both (x,y) and (y,x) + self-pairs
            keep = id_a < id_b
            id_a, id_b = id_a[keep], id_b[keep]
        else:
            # distinct blocks: each pair appears exactly once; orient it
            id_a, id_b = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b})

    return keyed.groupBy("b_lo", "b_hi").applyInPandas(gram, "id_a long, id_b long")


def hyperplanes(dim: int, planes: int, seed: int = 42) -> List[List[float]]:
    """Deterministic pseudo-random unit hyperplanes."""
    rng = random.Random(seed)
    out = []
    for _ in range(planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        out.append([x / n for x in v])
    return out


def lsh_bucket_expr(vec: Column, planes: List[List[float]]) -> Column:
    """Sign-pattern bucket id: bit i = 1 iff vec · plane_i >= 0."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bucket = bucket + F.when(
            dot_expr(vec, plane) >= 0, F.lit(2**i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def _ivf_fit_centers(
    base: DataFrame,
    id_field: str,
    vec_field: str,
    nlist: int,
    seed: int,
    fit_points: int = 100,
) -> np.ndarray:
    """Fit ``nlist`` coarse-quantizer centroids; returns an (nlist, dim)
    numpy array. Shared by :func:`ivf_topk` and
    :func:`ivf_cosine_candidates`.

    KMeans iterates over the training frame; cache it for the fit and
    release immediately (MLlib itself warns on uncached input). The fit is
    sample-bounded: centroid quality needs ~100·nlist points, not the full
    corpus. The sample is drawn in ONE pass with no count-star action:
    order by a seeded hash of the id and take the first ``fit_sample``
    rows — Spark plans TakeOrderedAndProject (per-partition top-k, then a
    k·p merge), so at 100 TB this is one scan shipping ~fit_sample rows
    per partition, versus count + Bernoulli-sample's two scans. The hash
    order makes the sample uniform regardless of storage order and
    deterministic for a given seed. Caveat: Spark only plans the top-k
    operator when the limit is at or below
    spark.sql.execution.topKSortFallbackThreshold (default 10000 —
    crossed here once nlist > 100), falling back to a full global sort
    otherwise. The threshold is session-global, so it is bumped ONLY
    when fit_sample actually exceeds the effective value (at default
    dials, nlist<=100 => fit_sample<=10000 and no conf is touched), and
    restored in a finally. During that short fit window a concurrent
    query on the same session would see the raised value — single-writer
    expectation, acceptable because the raised threshold only changes a
    sort's physical strategy, never results."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fit_sample = max(fit_points * nlist, 1)
    train = (
        base.orderBy(F.xxhash64(F.col(id_field), F.lit(seed)))
        .limit(fit_sample)
        .select(array_to_vector(vec_field).alias("features"))
        .cache()
    )
    spark = base.sparkSession
    topk_key = "spark.sql.execution.topKSortFallbackThreshold"
    try:
        cur_topk = int(spark.conf.get(topk_key))
    except Exception:
        cur_topk = 10000
    bumped = fit_sample >= cur_topk
    try:
        if bumped:
            spark.conf.set(topk_key, str(fit_sample + 1))
        model = KMeans(k=nlist, seed=seed, maxIter=5).fit(train)
    finally:
        train.unpersist()
        if bumped:
            spark.conf.set(topk_key, str(cur_topk))
    return np.stack([np.asarray(c) for c in model.clusterCenters()])


def _nearest_center_udf(centers: np.ndarray):
    """pandas UDF: home cell id (argmin distance) per vector. BLAS form:
    argmin of ||c||^2 - 2<x,c> — the ||x||^2 term is constant per row and
    cannot change the order — one (batch x nlist) matmul per Arrow batch
    instead of a (batch x nlist x dim) difference tensor."""
    from pyspark.sql.functions import pandas_udf

    _center_sq = (centers * centers).sum(axis=1)[None, :]

    @pandas_udf("int")
    def nearest_center(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy())
        d2 = _center_sq - 2.0 * (x @ centers.T)
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    return nearest_center


def _probe_centers_udf(centers: np.ndarray, probe_n: int):
    """pandas UDF: the probe_n nearest cell ids per vector (element 0 is
    the home cell), same BLAS trick as :func:`_nearest_center_udf`."""
    from pyspark.sql.functions import pandas_udf

    _center_sq = (centers * centers).sum(axis=1)[None, :]

    @pandas_udf("array<int>")
    def probe_centers(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy())
        d2 = _center_sq - 2.0 * (x @ centers.T)
        idx = np.argsort(d2, axis=1)[:, :probe_n].astype("int32")
        return pd.Series(list(idx))

    return probe_centers


class IVFIndex:
    """A reusable IVF index: driver-resident coarse-quantizer centroids +
    the cell-assigned base table. Splitting :func:`ivf_topk` into
    :func:`ivf_index` (fit + assign once) and :func:`ivf_search` (probe a
    prebuilt index) makes repeated-query ANN and incremental-ingestion
    embedding dedup pay the KMeans fit and the base assignment ONCE — the
    embedding-side mirror of ``dedup.dedup_against_index``'s
    precompute-the-index-signatures contract (pipeline/dedup.py).

    ``assigned`` holds normalized columns ``[id, vec, list_id]`` (original
    names recorded for provenance). It is LAZY by default — pass
    ``checkpoint_dir`` to :func:`ivf_index` to materialize it as parquet
    (reliable across executor loss, reusable across jobs), or call
    :meth:`save` / :func:`ivf_index_load` for full cross-session reuse."""

    def __init__(
        self,
        centers: np.ndarray,
        assigned: DataFrame,
        nlist: int,
        seed: int,
        id_col: str,
        vec_col: str,
    ):
        self.centers = centers
        self.assigned = assigned
        self.nlist = nlist
        self.seed = seed
        self.id_col = id_col
        self.vec_col = vec_col

    def save(self, path: str) -> None:
        """Persist the index under ``path`` (parquet: ``assigned/`` +
        ``centers/`` with one row per centroid; the original column names
        ride the centers rows so provenance survives the round-trip).
        Reload with :func:`ivf_index_load`."""
        spark = self.assigned.sparkSession
        self.assigned.write.mode("overwrite").parquet(path + "/assigned")
        rows = [
            (int(i), [float(x) for x in c], int(self.nlist), int(self.seed),
             self.id_col, self.vec_col)
            for i, c in enumerate(self.centers)
        ]
        spark.createDataFrame(
            rows,
            "list_id int, center array<double>, nlist int, seed int, "
            "id_col string, vec_col string",
        ).write.mode("overwrite").parquet(path + "/centers")


def ivf_index_load(spark, path: str) -> "IVFIndex":
    """Reload an :meth:`IVFIndex.save`'d index: centroids are collected
    driver-side (nlist rows — tiny by construction), the assignment scan
    stays lazy parquet."""
    cdf = spark.read.parquet(path + "/centers").orderBy("list_id")
    rows = cdf.collect()
    if not rows:
        raise ValueError(
            f"ivf_index_load: {path}/centers is empty — the save dir is "
            "missing or was only partially written; re-run IVFIndex.save"
        )
    stored_nlist = int(rows[0]["nlist"])
    got_ids = [int(r["list_id"]) for r in rows]
    if len(rows) != stored_nlist or got_ids != list(range(stored_nlist)):
        raise ValueError(
            f"ivf_index_load: {path}/centers is corrupt — expected "
            f"list_id 0..{stored_nlist - 1} ({stored_nlist} rows per the "
            f"stored nlist), found {len(rows)} rows with ids "
            f"{got_ids[:5]}{'...' if len(got_ids) > 5 else ''}"
        )
    centers = np.stack([np.asarray(r["center"]) for r in rows])
    assigned = spark.read.parquet(path + "/assigned")
    return IVFIndex(
        centers, assigned, stored_nlist, int(rows[0]["seed"]),
        rows[0]["id_col"], rows[0]["vec_col"],
    )


def ann_recall(
    index: "IVFIndex",
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    broadcast_queries: bool = True,
) -> float:
    """Measured recall@k of :func:`ivf_search` over this index against
    the EXACT top-k on the same base — the library-side probe behind the
    maintenance rule in :func:`ivf_index_append`'s docstring ("re-fit
    when a recall probe says the centroids have aged"). A production
    pipeline runs this on a small query sample after every few appends;
    a drop below its recall budget (the repo gates 0.8 at k=5) means the
    frozen coarse quantizer no longer matches the data distribution and
    the index should be rebuilt with :func:`ivf_index`.

    Scale shape: the exact baseline is :func:`cosine_topk_scan` (probe
    sample broadcast, base stays distributed — never collect the
    corpus), the comparison is one equi-join on (query_id, neighbor_id)
    plus two counts; only the single ratio reaches the driver. Cost is
    one full base scan per probe — that is what "exact baseline" costs;
    keep the probe sample small (hundreds), not the probe rate high."""
    approx = ivf_search(
        index, queries, k=k, nprobe=nprobe,
        vec_col=index.vec_col, id_col=index.id_col,
        broadcast_queries=broadcast_queries,
    ).select("query_id", "neighbor_id")
    base = index.assigned.select(
        F.col("id").alias(index.id_col), F.col("vec").alias(index.vec_col)
    )
    exact = cosine_topk_scan(
        base, queries, k=k, vec_col=index.vec_col, id_col=index.id_col
    ).select("query_id", "neighbor_id")
    n_exact = exact.count()
    if n_exact == 0:
        raise ValueError(
            "ann_recall: the exact baseline returned zero pairs — empty "
            "query sample or empty index"
        )
    n_hit = exact.join(approx, ["query_id", "neighbor_id"]).count()
    return n_hit / n_exact


def ivf_index_append(spark, path: str, new_embeddings: DataFrame) -> "IVFIndex":
    """Grow an :meth:`IVFIndex.save`'d index by ONE accepted batch:
    assign the batch's vectors to the STORED centroids (no re-fit — the
    coarse quantizer is frozen, the standard IVF add path) and
    parquet-append them to ``assigned/``. O(batch) work and bytes; the
    corpus partition files are never rewritten. Returns the reloaded
    index.

    The frozen quantizer is the deliberate trade: cells drift from
    optimal as the distribution shifts, but every vector is still
    HOME-assigned to its true nearest stored center, so
    :func:`ivf_search` / ``dedup.embedding_dedup_against_index`` recall
    semantics are unchanged — re-fit (rebuild via :func:`ivf_index`)
    when a recall probe says the centroids have aged out. Column names
    must match the stored ``id_col``/``vec_col`` provenance (validated).
    Single-appender only (plain parquet append, no transaction log)."""
    idx = ivf_index_load(spark, path)
    missing = [c for c in (idx.id_col, idx.vec_col)
               if c not in new_embeddings.columns]
    if missing:
        raise ValueError(
            f"ivf_index_append: batch is missing the index's stored "
            f"column(s) {missing} (id_col={idx.id_col!r}, "
            f"vec_col={idx.vec_col!r})"
        )
    batch = new_embeddings.select(
        F.col(idx.id_col).alias("id"),
        F.col(idx.vec_col).cast("array<double>").alias("vec"),
    )
    # dim check BEFORE the write: a mismatched batch would otherwise die
    # deep inside the assignment UDF's matmul with an executor stack
    # trace (or append garbage if the shapes happen to broadcast), after
    # the column validation above implied everything matched
    probe = batch.filter(F.col("vec").isNotNull()).select(
        F.size("vec").alias("d")
    ).first()
    dim = int(idx.centers.shape[1])
    if probe is not None and int(probe["d"]) != dim:
        raise ValueError(
            f"ivf_index_append: batch vectors have dim {int(probe['d'])} "
            f"but the stored index centroids have dim {dim} — the batch "
            "belongs to a different embedding space; rebuild with "
            "ivf_index if the space changed"
        )
    batch = batch.withColumn(
        "list_id", _nearest_center_udf(idx.centers)(F.col("vec"))
    )
    batch.write.mode("append").parquet(path + "/assigned")
    return ivf_index_load(spark, path)


def ivf_index_maintain(
    spark,
    path: str,
    new_embeddings: DataFrame,
    probe_queries: DataFrame,
    recall_floor: float = 0.8,
    k: int = 5,
    nprobe: int = 4,
    nlist: int | None = None,
    fit_points: int = 100,
) -> tuple["IVFIndex", dict]:
    """The closed IVF maintenance loop (append → probe → rebuild-on-
    drift): grow the saved index at ``path`` by one batch
    (:func:`ivf_index_append` — frozen centroids, O(batch)), probe
    recall@``k`` on ``probe_queries`` (:func:`ann_recall` — exact
    baseline over the whole base, so keep the probe sample small), and
    when recall sags below ``recall_floor``, REBUILD: re-fit centroids
    over the accumulated corpus (``nlist`` defaults to the stored value)
    and atomically swap the new index in via the rename-aside pattern
    (stage → move live aside → promote → drop old; a crash mid-swap is
    healed by the recovery prologue on the next call, and a torn staged
    write is never live). Returns ``(index, evidence)`` where evidence =
    ``{"recall": probed, "rebuilt": bool, "recall_after": float|None}``.

    This is the production answer to the frozen-quantizer trade
    documented on :func:`ivf_index_append`: cells drift as the
    distribution shifts; the probe is the detector, the rebuild the
    repair, and the swap keeps every reader consistent (readers loaded
    before the swap keep their collected centroids; the parquet scan
    they hold is the old dir, dropped only after promote — start new
    reads via :func:`ivf_index_load`). LOCAL-FILESYSTEM ONLY (driver-
    local rename swap — same contract as the streaming claim indexes)."""
    import os as _os
    import shutil as _sh

    from graphframes_rs_spark.streaming.dedup import _require_local_path

    path = _require_local_path(path, "ivf_index_maintain").rstrip("/")
    staged, old = path + ".staging", path + ".old"
    # crash recovery: the only window where the live dir is absent
    # mid-swap leaves ".old" behind — restore it (exact: the crashed
    # rebuild never promoted, so the pre-rebuild index is authoritative)
    if not _os.path.isdir(path) and _os.path.isdir(old):
        _os.rename(old, path)
    _sh.rmtree(staged, ignore_errors=True)
    _sh.rmtree(old, ignore_errors=True)

    idx = ivf_index_append(spark, path, new_embeddings)
    recall = ann_recall(idx, probe_queries, k=k, nprobe=nprobe)
    if recall >= recall_floor:
        return idx, {"recall": recall, "rebuilt": False, "recall_after": None}
    base = idx.assigned.select(
        F.col("id").alias(idx.id_col), F.col("vec").alias(idx.vec_col)
    )
    rebuilt = ivf_index(
        base,
        nlist=idx.nlist if nlist is None else nlist,
        vec_col=idx.vec_col,
        id_col=idx.id_col,
        seed=idx.seed,
        fit_points=fit_points,
    )
    rebuilt.save(staged)
    _os.rename(path, old)
    _os.rename(staged, path)
    _sh.rmtree(old, ignore_errors=True)
    fresh = ivf_index_load(spark, path)
    recall_after = ann_recall(fresh, probe_queries, k=k, nprobe=nprobe)
    return fresh, {
        "recall": recall, "rebuilt": True, "recall_after": recall_after,
    }


def ivf_index(
    embeddings: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    fit_points: int = 100,
    checkpoint_dir: str | None = None,
    phase_stats: list | None = None,
    pins: list | None = None,
) -> IVFIndex:
    """Fit ``nlist`` coarse-quantizer centroids (sample-bounded seeded
    KMeans — see :func:`_ivf_fit_centers`) and assign every base vector
    to its home cell. The result feeds any number of
    :func:`ivf_search` / ``dedup.embedding_dedup_against_index`` calls
    without re-fitting or re-assigning.

    ``checkpoint_dir``: materialize the assignment as parquet there and
    read it back — the index survives recomputation (lineage is cut) and
    executor loss; without it the assignment stays a lazy plan (each
    search recomputes it unless the caller persists).
    ``phase_stats`` / ``pins``: the (phase, rows, seconds) evidence +
    caller-owned-release contract shared with :func:`ivf_topk`."""
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    t0 = time.monotonic()
    centers = _ivf_fit_centers(base, "id", "vec", nlist, seed, fit_points)
    if phase_stats is not None:
        phase_stats.append(
            ("fit", max(fit_points * nlist, 1), round(time.monotonic() - t0, 2))
        )
    assigned = base.withColumn(
        "list_id", _nearest_center_udf(centers)(F.col("vec"))
    )
    if checkpoint_dir is not None:
        # the materializing write IS the assignment pass — time it for the
        # phase trail (parquet metadata count on the read-back is free),
        # so a checkpointed build still reports both phases
        t1 = time.monotonic()
        assigned.write.mode("overwrite").parquet(checkpoint_dir + "/assigned")
        assigned = embeddings.sparkSession.read.parquet(
            checkpoint_dir + "/assigned"
        )
        if phase_stats is not None:
            phase_stats.append(
                ("assign", assigned.count(), round(time.monotonic() - t1, 2))
            )
    elif phase_stats is not None:
        assigned = _instrument_persist(assigned, "assign", phase_stats, pins)
    return IVFIndex(centers, assigned, nlist, seed, id_col, vec_col)


def _ivf_probe_candidates(
    index: IVFIndex,
    frame: DataFrame,
    nprobe: int,
    vec_col: str,
    id_col: str,
    query_alias: str,
    base_alias: str,
    broadcast_queries: bool = True,
) -> DataFrame:
    """[list_id, <base_alias>, nv, <query_alias>, qv]: every (query row,
    index row) pair whose index row is HOME-assigned to one of the query
    row's ``nprobe`` nearest cells — the candidate block shared by
    :func:`ivf_search` and ``dedup.embedding_dedup_against_index`` (one
    implementation so probe-path fixes can't diverge). One equi-join on
    list_id.

    ``broadcast_queries=True`` (default) force-broadcasts the exploded
    query side — correct for interactive query batches, where the
    exploded table is ``|batch| x nprobe`` rows each carrying the full
    double vector. That explicit hint BYPASSES
    ``spark.sql.autoBroadcastJoinThreshold``, so a corpus-sized batch
    would be shipped to every executor and can exhaust driver/executor
    memory; callers routing large ingestion batches (rule of thumb:
    ``|batch| * nprobe * dim * 8B`` beyond a few hundred MB) must pass
    ``False`` to degrade to an ordinary shuffle hash/sort-merge join on
    list_id — identical rows, AQE picks the strategy."""
    q = frame.select(
        F.col(id_col).alias(query_alias),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    probe_n = min(nprobe, index.nlist)
    probed = q.select(
        query_alias,
        "qv",
        F.explode(
            _probe_centers_udf(index.centers, probe_n)(F.col("qv"))
        ).alias("list_id"),
    )
    listed = index.assigned.select(
        F.col("id").alias(base_alias), F.col("vec").alias("nv"), "list_id"
    )
    if broadcast_queries:
        probed = F.broadcast(probed)
    return listed.join(probed, "list_id")


def ivf_search(
    index: IVFIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """[query_id, neighbor_id, cosine, rank]: probe a prebuilt
    :class:`IVFIndex` — each query scans only its ``nprobe`` nearest
    cells, exact cosine + top-k on that fraction. Identical results to
    the one-shot :func:`ivf_topk` at equal dials (equality-pinned in
    tests); the fit/assign cost is wherever :func:`ivf_index` paid it.

    Scale shape: the probed query table is exploded to (query, cell) rows
    and (by default) BROADCAST against the cell-partitioned assignment —
    one equi-join on list_id, no shuffle of the base side beyond the join
    itself. ``broadcast_queries=False`` switches that join to a shuffle
    join for corpus-sized query batches (see
    :func:`_ivf_probe_candidates` for the size bound)."""
    cands = _ivf_probe_candidates(
        index, queries, nprobe, vec_col, id_col, "query_id", "neighbor_id",
        broadcast_queries=broadcast_queries,
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_expr(F.col("qv"), F.col("nv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    phase_stats: list | None = None,
    pins: list | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    Classic IVF-flat: ``nlist`` centroids are fit with Spark MLlib KMeans
    (seeded), every base vector is assigned to its nearest centroid (one
    pass), and a query only scans the ``nprobe`` lists whose centroids are
    closest to it — exact cosine + top-k on that ~nprobe/nlist fraction of
    the data. The centroid table is tiny and driver-resident; the base
    assignment is a bounded pandas-UDF matmul per Arrow batch; candidate
    matching is ONE equi-join on the list id. Versus LSH (``lsh_topk``):
    data-adaptive partitions, better recall on clustered corpora, and the
    nlist/nprobe dials map directly to scan fraction.

    ``phase_stats``: pass a list to receive ``(phase, rows, seconds)``
    tuples — the same evidence format the WCC/k-core builders record
    (``phase_stats_``). Phases: ``fit`` (the eager driver-side KMeans fit,
    timed at zero extra cost) and ``assign`` (the base-vector list
    assignment, which instrumentation persists + counts so its wall is
    separable from the probe join). ``None`` (default) leaves the plan
    fully lazy and untouched — the probe-join/score phase is then the
    caller's total minus these two.

    ``pins``: pass a list (with ``phase_stats``) to receive the persisted
    handle so the benched probe join reuses the cached assignment exactly
    once, released by the caller afterwards; without it the handle is
    unpersisted right after the count (no memory pin outlives the call,
    the returned lazy plan recomputes the assignment).

    One-shot form of the :func:`ivf_index` + :func:`ivf_search` split —
    literally that composition (equality is structural, not tested-only);
    callers issuing repeated query batches over one corpus should build
    the index once instead."""
    idx = ivf_index(
        embeddings,
        nlist=nlist,
        vec_col=vec_col,
        id_col=id_col,
        seed=seed,
        phase_stats=phase_stats,
        pins=pins,
    )
    return ivf_search(
        idx, queries, k=k, nprobe=nprobe, vec_col=vec_col, id_col=id_col
    )


def ivf_cosine_candidates(
    embeddings: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 64,
    nprobe: int = 4,
    seed: int = 42,
    sub_blocks: int = 1,
    slack: float = 1e-9,
    fit_points: int = 100,
    phase_stats: list | None = None,
    pins: list | None = None,
    index: "IVFIndex | None" = None,
) -> DataFrame:
    """[id_a, id_b] (id_a < id_b) candidate pairs with BLAS cosine >=
    threshold - slack, generated only inside IVF cells — the sub-quadratic
    candidate path for embedding near-dup at corpus scale.

    :func:`blocked_cosine_candidates` is per-task bounded but its TOTAL
    work is O(n²·d) FLOPs no matter the block count — fine to ~10M
    vectors, not 100 TB. Here ``nlist`` seeded-KMeans cells (shared
    quantizer fit with :func:`ivf_topk`, sample-bounded, no count-star)
    partition the corpus; each vector lands in its home cell and
    additionally PROBES its ``nprobe`` nearest cells, and gram matrices
    are computed per cell between home rows and all posted rows. A pair
    is a candidate iff one side's home cell is in the other side's probe
    set — near-dup pairs (cosine >= 0.9+) are angularly tiny, so they
    share a nearest centroid or miss it only into an adjacent probed
    cell. Cost has two terms: assignment n·nlist·d (every vector scores
    every centroid, one BLAS matmul per Arrow batch) and in-cell grams
    nprobe·n²·d/nlist; nlist ∝ sqrt(n) balances them at O(n^1.5·d)
    total — genuinely sub-quadratic (the measured scale arm: bench
    `scale_neardup_ivf_*` tiers run nlist = sqrt(n) at 200k→400k;
    doubling n costs ~2.8x, where the exact blocked generator pays 4x).
    ``fit_points`` = KMeans sample rows per centroid (default 100, the
    :func:`ivf_topk` discipline); candidate generation only needs cells
    that PARTITION space, not cells that rank neighbours, so the scale
    arm runs 30/centroid to keep the fit linear-ish as nlist grows.

    Approximate-by-construction (a pair whose members' probe sets are
    disjoint is missed): callers gate recall against the exact pair set
    — `embedding_neardup_ivf` measures >= 0.8 on the sf fixtures — and
    MUST re-score the survivors with the exact sequential-fold cosine,
    same contract as every ANN operator here (``slack`` absorbs BLAS
    pairwise-summation float drift, re-scoring removes it).

    ``sub_blocks`` (default 1 = off) re-applies the blocked-gram trick
    WITHIN a cell for skew protection: rows hash into ``sub_blocks``
    blocks and each (cell, b_lo, b_hi) group grams one block pair, so a
    hot cell on clustered data never concentrates (cell_size)² floats in
    one task; replication multiplies to nprobe·sub_blocks.

    ``phase_stats``: same (phase, rows, seconds) evidence contract as
    :func:`ivf_topk` — ``fit`` is eager/free; ``assign`` persists+counts
    the posted frame (instrumentation-only; default plan stays lazy).
    ``pins``: same caller-owned-release contract as :func:`ivf_topk`.
    """
    from pyspark.sql.functions import pandas_udf

    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    if index is not None:
        # prebuilt-quantizer reuse (repeated dedup passes over a growing
        # corpus): skip the KMeans fit; postings are still computed here —
        # probe sets depend on the CURRENT frame's vectors, only the cell
        # geometry is reusable. nlist follows the index.
        centers = index.centers
        nlist = index.nlist
        if phase_stats is not None:
            phase_stats.append(("fit", 0, 0.0))
    else:
        t0 = time.monotonic()
        centers = _ivf_fit_centers(base, "id", "nv", nlist, seed, fit_points)
        if phase_stats is not None:
            phase_stats.append(
                ("fit", max(fit_points * nlist, 1),
                 round(time.monotonic() - t0, 2))
            )
    _center_sq = (centers * centers).sum(axis=1)[None, :]  # (1, nlist)

    probe_n = min(nprobe, nlist)

    @pandas_udf("array<int>")
    def probe_cells(v: pd.Series) -> pd.Series:
        # element 0 = home cell (nearest centroid); 1..probe_n-1 = the
        # next-nearest probed cells. BLAS form: argsort of
        # ||c||^2 - 2<x,c> (the ||x||^2 term is constant per row and
        # cannot change the order) — one (batch x nlist) matmul instead
        # of materializing a (batch x nlist x dim) difference tensor
        x = np.stack(v.to_numpy())
        d2 = _center_sq - 2.0 * (x @ centers.T)
        idx = np.argsort(d2, axis=1)[:, :probe_n].astype("int32")
        return pd.Series(list(idx))

    nb = max(int(sub_blocks), 1)
    posted = (
        base.withColumn("cells", probe_cells(F.col("nv")))
        .select(
            "id",
            "nv",
            F.element_at(F.col("cells"), 1).alias("home"),
            F.explode("cells").alias("cell"),
        )
        .withColumn("is_home", F.col("cell") == F.col("home"))
        .withColumn(
            "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(nb)).cast("int")
        )
        .select(
            "id",
            "nv",
            "cell",
            "is_home",
            "blk",
            F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("other"),
        )
        .select(
            "id",
            "nv",
            "cell",
            "is_home",
            "blk",
            F.least("blk", "other").alias("b_lo"),
            F.greatest("blk", "other").alias("b_hi"),
        )
    )
    if phase_stats is not None:
        posted = _instrument_persist(posted, "assign", phase_stats, pins)
    cut = float(threshold) - slack

    empty = pd.DataFrame(
        {"id_a": pd.array([], dtype="int64"), "id_b": pd.array([], dtype="int64")}
    )

    def gram(key, pdf: pd.DataFrame) -> pd.DataFrame:
        _cell, b_lo, b_hi = key
        left = pdf[pdf["blk"] == b_lo]
        right = pdf[pdf["blk"] == b_hi] if b_hi != b_lo else left
        if left.empty or right.empty:
            return empty
        la = np.stack(left["nv"].to_numpy())
        ra = np.stack(right["nv"].to_numpy())
        ln = np.linalg.norm(la, axis=1, keepdims=True)
        rn = np.linalg.norm(ra, axis=1, keepdims=True)
        la = la / np.where(ln == 0, 1.0, ln)
        ra = ra / np.where(rn == 0, 1.0, rn)
        hit = la @ ra.T >= cut
        # candidate iff at least one side is HOME in this cell (the other
        # side may be a probe visitor) — pairs where both are visitors are
        # someone else's cell's responsibility, dropping them here keeps
        # the emitted set == the declared candidate semantics
        hl = left["is_home"].to_numpy()
        hr = right["is_home"].to_numpy()
        hit &= hl[:, None] | hr[None, :]
        ii, jj = np.nonzero(hit)
        if ii.size == 0:
            return empty
        id_a = left["id"].to_numpy()[ii]
        id_b = right["id"].to_numpy()[jj]
        if b_lo == b_hi:
            keep = id_a < id_b
            id_a, id_b = id_a[keep], id_b[keep]
        else:
            id_a, id_b = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b})

    pairs = posted.groupBy("cell", "b_lo", "b_hi").applyInPandas(
        gram, "id_a long, id_b long"
    )
    # a pair can surface from several probed cells (and from both
    # orientations' home cells) — distinct() is on the candidate set,
    # which is tiny relative to the corpus (only near-threshold pairs)
    return pairs.distinct()


def _all_bucket_udf(planes_by_table: List[List[List[float]]]):
    """Vectorized pandas UDF: embedding -> array of one bucket id per table.

    All tables' hyperplane dot products run as ONE numpy matmul per Arrow
    batch against a constant (dim × tables·planes) matrix — the JVM-side
    HOF equivalent re-walks an interpreted expression tree per plane per
    row, which measures ~5× slower at 64 planes."""
    from pyspark.sql.functions import pandas_udf

    mat = np.concatenate(
        [np.asarray(p, dtype=np.float64).T for p in planes_by_table], axis=1
    )  # (dim, tables*planes)
    planes_per_table = len(planes_by_table[0])
    weights = (2 ** np.arange(planes_per_table, dtype=np.int64))[None, :]

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy())  # (n, dim)
        signs = (x @ mat) >= 0  # (n, tables*planes)
        signs = signs.reshape(len(x), -1, planes_per_table)
        ids = (signs * weights).sum(axis=2)  # (n, tables)
        return pd.Series(list(ids))

    return buckets


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    planes_per_table: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = bucket collisions in any of
    ``tables`` independent hyperplane tables, exact cosine on candidates.

    Recall/cost dial: more tables → higher recall, more candidates;
    more planes → smaller buckets, faster but lower recall.

    Plan shape: one pandas-UDF projection computes every table's bucket in
    a single Arrow pass, ``posexplode`` yields (table, bucket) keys, and
    ONE broadcast join against the exploded query buckets replaces the
    per-table join+union ladder. Exact cosine only on the candidate set.
    """
    planes_by_table = [
        hyperplanes(dim, planes_per_table, seed + 1000 * t) for t in range(tables)
    ]
    bucketer = _all_bucket_udf(planes_by_table)

    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        bucketer(F.col(vec_col)).alias("__buckets"),
    ).select(
        "neighbor_id", "nv", F.posexplode("__buckets").alias("table", "bucket")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        bucketer(F.col(vec_col)).alias("__buckets"),
    ).select("query_id", "qv", F.posexplode("__buckets").alias("table", "bucket"))

    cands = (
        base.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_expr(F.col("qv"), F.col("nv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _pq_fit(sample: np.ndarray, m: int, ncodes: int, seed: int, iters: int = 10):
    """Per-subspace Lloyd k-means on the driver sample (deterministic:
    seeded centroid init by hash-free RandomState, fixed iteration
    count). Returns codebooks of shape (m, ncodes, d/m)."""
    n, d = sample.shape
    sub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, ncodes, sub))
    for j in range(m):
        x = sample[:, j * sub : (j + 1) * sub]
        centers = x[rng.choice(n, size=min(ncodes, n), replace=False)]
        if len(centers) < ncodes:  # degenerate tiny sample: pad by repeat
            centers = np.resize(centers, (ncodes, sub))
        for _ in range(iters):
            d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ncodes):
                mask = assign == c
                if mask.any():
                    centers[c] = x[mask].mean(axis=0)
        books[j] = centers
    return books


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    nbits: int = 4,
    rerank: int = 100,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via product quantization (Jégou, Douze & Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI'11) with
    asymmetric-distance scoring and exact re-ranking.

    The 100 TB shuffle-compression path: each L2-normalized base vector is
    encoded once into ``m`` sub-codes of ``nbits`` bits (64-d float64 =
    512 B -> 8 B at the defaults, a 64x reduction), so the scoring scan
    ships codes, not vectors. Per query, cosine ≈ sum over subspaces of
    ``LUT[j][code_j]`` where ``LUT[j][c] = <q_j / |q|, codebook[j][c]>`` —
    one numpy gather per Arrow batch for ALL queries at once (the LUTs,
    ``m * 2^nbits * n_queries`` doubles, broadcast as a UDF constant).
    The top-``rerank`` ADC candidates per query are then re-scored with
    the exact sequential-fold SQL cosine, so quantization error affects
    only WHICH candidates are considered, never the reported scores —
    same contract as ``lsh_topk`` / ``ivf_topk``.

    Fit is sample-bounded and driver-side (hash-ordered ``limit``, no
    count-star — same discipline as ``ivf_topk``); codebooks are
    deterministic for a given seed. Requires ``dim % m == 0``."""
    ncodes = 2 ** nbits
    if nbits < 1 or nbits > 8:
        raise ValueError("nbits must be in [1, 8]")
    if rerank < k:
        raise ValueError("rerank must be >= k")

    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )

    fit_sample = max(100 * ncodes, 256)
    train = (
        base.orderBy(F.xxhash64(F.col("neighbor_id"), F.lit(seed)))
        .limit(fit_sample)
        .select("nv")
        .toPandas()
    )
    sample = np.stack(train["nv"].to_numpy())
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample / np.where(norms == 0, 1.0, norms)
    books = _pq_fit(sample, m, ncodes, seed)  # (m, ncodes, sub)
    sub = dim // m

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy())
        nrm = np.linalg.norm(x, axis=1, keepdims=True)
        x = x / np.where(nrm == 0, 1.0, nrm)
        codes = np.empty((len(x), m), dtype="int32")
        for j in range(m):
            xs = x[:, j * sub : (j + 1) * sub]
            d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    # LUTs for the whole (small, broadcastable) query set: (nq, m, ncodes)
    qpd = q.toPandas()
    qids = qpd["query_id"].to_numpy()
    qx = np.stack(qpd["qv"].to_numpy())
    qnrm = np.linalg.norm(qx, axis=1, keepdims=True)
    qx = qx / np.where(qnrm == 0, 1.0, qnrm)
    # LUT[i, j, c] = <query_i subspace j, codebook[j][c]>: one einsum over
    # the reshaped query block
    luts = np.einsum("qjs,jcs->qjc", qx.reshape(len(qx), m, sub), books)

    @pandas_udf("array<double>")
    def adc_scores(codes: pd.Series) -> pd.Series:
        c = np.stack(codes.to_numpy())  # (n, m)
        n = len(c)
        # gather: for each query, sum LUT[q, j, c[:, j]] over j
        out = np.empty((n, len(qids)))
        for qi in range(len(qids)):
            out[:, qi] = luts[qi, np.arange(m)[None, :], c].sum(axis=1)
        return pd.Series(list(out))

    coded = base.select("neighbor_id", encode(F.col("nv")).alias("codes"))
    scored = coded.select(
        "neighbor_id", F.posexplode(adc_scores(F.col("codes"))).alias("__qi", "adc")
    )
    qmap = q.sparkSession.createDataFrame(
        [(int(i), int(qid)) for i, qid in enumerate(qids)],
        "__qi int, query_id long",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cands = (
        scored.join(F.broadcast(qmap), "__qi")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= rerank)
        .select("query_id", "neighbor_id")
    )
    # exact rescore on the candidate set only
    rescored = (
        cands.join(base, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("qv"), F.col("nv")), 6).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return rescored.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    nbits: int = 4,
    rerank: int = 100,
    seed: int = 42,
    phase_stats: list | None = None,
    pins: list | None = None,
) -> DataFrame:
    """IVFADC — the :func:`ivf_topk` x :func:`pq_topk` composition
    production ANN systems deploy at 1e9+ vectors (Jégou, Douze & Schmid,
    TPAMI'11 §V): the coarse inverted-file quantizer bounds WHICH rows a
    query scans (~nprobe/nlist of the base), and product-quantized
    RESIDUAL codes (v̂ - centroid, sharper than coding raw vectors
    because residual variance is what's left after the coarse step)
    bound the BYTES each scanned row ships — 64-d float64 = 512 B down
    to ``m * ceil(nbits/8)`` + one list id. Scoring is asymmetric:
    cos(q, v) ≈ <q̂, centroid_l> + Σ_j LUT[j][code_j], with the per-query
    LUTs and the (nq x nlist) centroid-dot table both tiny UDF-closure
    constants; the ADC top-``rerank`` per query is re-scored with the
    exact sequential-fold SQL cosine, so quantization error affects only
    WHICH candidates are considered, never the reported scores (same
    contract as every ANN operator here).

    Scale shape: both fits are hash-ordered sample-bounded (no
    count-star, driver holds ~100*max(nlist, 2^nbits) rows); encoding is
    one narrow Arrow-batched pass; candidate generation is ONE equi-join
    of codes against the broadcast (query, probed-list) frame; nothing
    data-sized is collected. Requires ``dim % m == 0``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.functions import pandas_udf

    ncodes = 2 ** nbits
    if nbits < 1 or nbits > 8:
        raise ValueError("nbits must be in [1, 8]")
    if rerank < k:
        raise ValueError("rerank must be >= k")

    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    spark = base.sparkSession

    # one sample feeds BOTH fits (coarse centroids + residual codebooks)
    t0 = time.monotonic()  # fit-phase clock (see phase_stats)
    fit_sample = max(100 * max(nlist, ncodes), 256)
    train_pd = (
        base.orderBy(F.xxhash64(F.col("neighbor_id"), F.lit(seed)))
        .limit(fit_sample)
        .select("nv")
        .toPandas()
    )
    sample = np.stack(train_pd["nv"].to_numpy())
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    nrm = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample / np.where(nrm == 0, 1.0, nrm)

    # coarse quantizer: seeded MLlib KMeans on the normalized sample
    # (same topK-threshold discipline as ivf_topk's fit)
    train = spark.createDataFrame(
        [(list(map(float, r)),) for r in sample], "nv array<double>"
    ).select(array_to_vector("nv").alias("features")).cache()
    topk_key = "spark.sql.execution.topKSortFallbackThreshold"
    try:
        cur_topk = int(spark.conf.get(topk_key))
    except Exception:
        cur_topk = 10000
    bumped = fit_sample >= cur_topk
    try:
        if bumped:
            spark.conf.set(topk_key, str(fit_sample + 1))
        model = KMeans(k=nlist, seed=seed, maxIter=5).fit(train)
    finally:
        train.unpersist()
        if bumped:
            spark.conf.set(topk_key, str(cur_topk))
    centers = np.stack([np.asarray(c) for c in model.clusterCenters()])

    # residual codebooks: PQ fit on (sample - assigned centroid)
    d2s = ((sample[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    resid = sample - centers[d2s.argmin(axis=1)]
    books = _pq_fit(resid, m, ncodes, seed)
    sub = dim // m
    if phase_stats is not None:
        phase_stats.append(("fit", fit_sample, round(time.monotonic() - t0, 2)))

    @pandas_udf("array<int>")
    def assign_encode(v: pd.Series) -> pd.Series:
        # element 0 = coarse list id, elements 1..m = residual PQ codes
        x = np.stack(v.to_numpy())
        n = np.linalg.norm(x, axis=1, keepdims=True)
        x = x / np.where(n == 0, 1.0, n)
        d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        lists = d2.argmin(axis=1).astype("int32")
        r = x - centers[lists]
        out = np.empty((len(x), m + 1), dtype="int32")
        out[:, 0] = lists
        for j in range(m):
            rs = r[:, j * sub : (j + 1) * sub]
            dd = ((rs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j + 1] = dd.argmin(axis=1)
        return pd.Series(list(out))

    # query-side constants: normalized queries, probed lists, centroid
    # dots, residual LUTs — all O(nq * (nlist + m * ncodes)) doubles
    qpd = q.toPandas()
    if qpd.empty:
        raise ValueError("ivfpq_topk: empty query set")
    qids = qpd["query_id"].to_numpy(dtype=np.int64)
    qx = np.stack(qpd["qv"].to_numpy()).astype(np.float64)
    qn = np.linalg.norm(qx, axis=1, keepdims=True)
    qx = qx / np.where(qn == 0, 1.0, qn)
    qc = qx @ centers.T  # (nq, nlist): <q̂, centroid_l>
    luts = np.einsum("qjs,jcs->qjc", qx.reshape(len(qx), m, sub), books)
    qd2 = ((qx[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    probe_n = min(nprobe, nlist)
    probe_idx = np.argsort(qd2, axis=1)[:, :probe_n]

    probed = spark.createDataFrame(
        [
            (int(qi), int(qids[qi]), int(l))
            for qi in range(len(qids))
            for l in probe_idx[qi]
        ],
        "__qi int, query_id long, list_id int",
    )

    @pandas_udf("double")
    def adc(codes: pd.Series, qi: pd.Series) -> pd.Series:
        c = np.stack(codes.to_numpy())  # (n, m+1): [list_id, code_0..]
        i = qi.to_numpy()
        s = qc[i, c[:, 0]] + luts[i[:, None], np.arange(m)[None, :], c[:, 1:]].sum(
            axis=1
        )
        return pd.Series(s)

    coded = base.select(
        "neighbor_id",
        assign_encode(F.col("nv")).alias("codes"),
    ).withColumn("list_id", F.element_at(F.col("codes"), 1))
    if phase_stats is not None:
        # same instrumentation contract as ivf_topk: persist + count makes
        # the encode pass's wall separable from the ADC probe join; the
        # production (phase_stats=None) plan stays fully lazy.
        coded = _instrument_persist(coded, "encode", phase_stats, pins)
    cands = (
        coded.join(F.broadcast(probed), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc", adc(F.col("codes"), F.col("__qi")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    picked = (
        cands.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= rerank)
        .select("query_id", "neighbor_id")
    )
    rescored = (
        picked.join(base, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("qv"), F.col("nv")), 6).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return rescored.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


def embedding_outliers(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    z_threshold: float = 3.0,
) -> DataFrame:
    """[vec_id, dist, z, is_outlier] — corpus-QA outlier flagging: each
    vector's Euclidean distance to the corpus MEAN embedding, z-scored
    against the distance distribution. Far-from-centroid rows are the
    usual suspects (wrong modality, empty inputs, encoder failures)
    worth auditing before training.

    Two combine-enabled aggregation passes (mean vector, then distance
    moments), each re-broadcast as a 1-row frame — no collect, no
    iteration; the corpus streams through twice and shuffles never.
    Distances use the exact sequential-fold SQL expressions shared with
    the ANN operators."""
    d = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    head = d.select(F.size("v").alias("__n")).limit(1).collect()
    if not head or head[0]["__n"] == 0:
        raise ValueError("embeddings frame is empty or has empty vectors")
    dim = head[0]["__n"]
    mu = d.agg(
        F.array(*[F.avg(F.col("v")[i]) for i in range(dim)]).alias("mu")
    )
    with_dist = d.crossJoin(F.broadcast(mu)).select(
        "vec_id",
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("v"), F.col("mu"), lambda x, m: (x - m) * (x - m)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("dist"),
    )
    moments = with_dist.agg(
        F.avg("dist").alias("__md"), F.stddev_pop("dist").alias("__sd")
    )
    return (
        with_dist.crossJoin(F.broadcast(moments))
        .select(
            "vec_id",
            F.round("dist", 6).alias("dist"),
            F.round(
                F.when(
                    F.col("__sd") > 0,
                    (F.col("dist") - F.col("__md")) / F.col("__sd"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("z"),
        )
        .withColumn("is_outlier", F.col("z") > z_threshold)
    )


def knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "exact",
    **ann_kwargs,
) -> DataFrame:
    """[src, dst, cosine] — the symmetrized k-nearest-neighbour graph over
    an embedding column: an edge per (vector, one of its top-k cosine
    neighbours), both directions, deduplicated. The bridge from embedding
    space into every graph operator (components over a kNN graph =
    density-connected cluster discovery; PageRank over it = centrality in
    semantic space).

    ``method='exact'`` scores all pairs via the BLAS broadcast top-k
    (:func:`cosine_topk_blas` — right when the base fits a broadcast;
    measured 58s -> 1.5s over the expression path on a 2000-point
    self-kNN); ``method='ivf'`` routes through :func:`ivf_topk` (the
    100 TB path: centroid-bucketed candidate lists, nlist/nprobe dials
    via ``ann_kwargs``)."""
    if method == "exact":
        nn = cosine_topk_blas(
            embeddings, embeddings, k=k, vec_col=vec_col, id_col=id_col
        )
    elif method == "ivf":
        nn = ivf_topk(
            embeddings, embeddings, k=k, vec_col=vec_col, id_col=id_col, **ann_kwargs
        )
    else:
        raise ValueError(f"unknown knn_graph method {method!r}")
    directed = nn.select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
        "cosine",
    )
    # both orientations from ONE pass over the ANN result: the earlier
    # self-union made `nn` (the full scoring pass — BLAS broadcast top-k
    # or the IVF probe) a two-consumer subtree, executed once per branch
    # in the same action (guide §2.4; same shape as the exact-substring
    # sweep fix, OPTIMIZATION_r14.md)
    return (
        directed.select(
            F.explode(
                F.array(
                    F.struct("src", "dst", "cosine"),
                    F.struct(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                        F.col("cosine").alias("cosine"),
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst", "__e.cosine")
        .groupBy("src", "dst")
        .agg(F.max("cosine").alias("cosine"))
    )


# Bound (rows x dims) on the base cosine_topk_blas may collect to the driver.
MAX_BLAS_BASE_CELLS = "spark.graphframes.ann.maxBlasBaseCells"


def cosine_topk_blas(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """[query_id, neighbor_id, cosine, rank] — same contract and exact
    semantics as :func:`cosine_topk` (cosine rounded to 6, ties broken by
    ascending neighbor id, self-matches excluded), but scored as one BLAS
    matmul per Arrow batch of queries against a broadcast normalized base
    matrix. ~20x faster than the expression path once |queries| is large
    (the per-pair higher-order-function fold is interpreted; measured
    58s -> 3s on a 2000x2000 self-kNN at d=64).

    The base side must fit a broadcast (rows x d doubles). When the base
    is huge and the QUERY set is the small side, use
    :func:`cosine_topk_scan` — the exact dual (queries broadcast, base
    stays distributed) — or :func:`ivf_topk` / :func:`lsh_topk` to bound
    what each query scans approximately. The contract is ENFORCED: the
    base collect is guarded by ``spark.graphframes.ann.maxBlasBaseCells``
    (rows x dim, default 64M cells = 512 MB of doubles) and raises
    pointing at the scale duals rather than silently OOMing the driver."""
    max_cells = int_conf(
        embeddings.sparkSession, MAX_BLAS_BASE_CELLS, 64 * 1024 * 1024, 0
    )
    # ONE pre-flight job for both guard inputs (not first()+count(), which
    # would execute an uncached upstream plan twice before the collect);
    # max() ignores NULL vectors, so a leading NULL can't break the guard
    sizes = embeddings.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size(F.col(vec_col))).alias("d"),
    ).first()
    n_base = sizes["n"] or 0
    dim = sizes["d"] or 0
    if n_base * max(dim, 1) > max_cells:
        raise ValueError(
            f"cosine_topk_blas collects the BASE to the driver: "
            f"{n_base} rows x {dim} dims = {n_base * dim} cells exceeds "
            f"{MAX_BLAS_BASE_CELLS} ({max_cells}). For a "
            f"large base use cosine_topk_scan (distributed base, broadcast "
            f"queries) or ivf_topk/lsh_topk (bounded approximate scans), "
            f"or raise the conf if the driver really has the memory."
        )
    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    ).collect()
    b_ids = np.array([r["neighbor_id"] for r in base], dtype=np.int64)
    bm = np.stack([np.asarray(r["nv"], dtype=np.float64) for r in base])
    bm = bm / np.linalg.norm(bm, axis=1, keepdims=True)
    kk = k

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            qm = np.stack(pdf["qv"].to_numpy()).astype(np.float64)
            qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
            qids = pdf["query_id"].to_numpy()
            s = np.round(qm @ bm.T, 6)
            # exclude self-matches before ranking
            self_mask = qids[:, None] == b_ids[None, :]
            s[self_mask] = -np.inf
            # top-k by (cosine desc, neighbor_id asc): lexsort is stable
            order = np.lexsort((b_ids[None, :].repeat(len(qids), 0), -s), axis=1)
            take = order[:, :kk]
            rows = np.repeat(np.arange(len(qids)), take.shape[1])
            cols = take.ravel()
            keep = ~np.isinf(s[rows, cols])
            yield pd.DataFrame(
                {
                    "query_id": qids[rows[keep]],
                    "neighbor_id": b_ids[cols[keep]],
                    "cosine": s[rows[keep], cols[keep]],
                    "rank": (np.tile(
                        np.arange(1, take.shape[1] + 1), len(qids)
                    )[keep]).astype(np.int32),
                }
            )

    return q.mapInPandas(
        score, "query_id long, neighbor_id long, cosine double, rank int"
    )


def cosine_topk_scan(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch_margin: int = 8,
) -> DataFrame:
    """[query_id, neighbor_id, cosine, rank] — same exact contract as
    :func:`cosine_topk` / :func:`cosine_topk_blas` (cosine rounded to 6,
    ties by ascending neighbor id, self-matches excluded), shaped for the
    serving case ``cosine_topk_blas`` cannot scale to: the BASE is huge
    and stays fully distributed; only the QUERY set is collected and
    broadcast (the bounded side — |queries| x d doubles, the exact dual
    of the blas variant's base-collect contract).

    Dataflow: one ``mapInPandas`` scan of the base scores every Arrow
    batch against the whole query matrix in a single BLAS matmul and
    keeps the per-batch top ``k + batch_margin`` candidate IDS per query
    — so each batch emits at most |queries| x (k+margin) rows no matter
    the batch size, and the scan's output is bounded by
    |queries| x (k+margin) x n_batches, never by |base|. The candidates
    are then re-scored with the exact sequential-fold SQL cosine (two
    broadcast joins of the tiny candidate set back to the vectors) and
    ranked with one WindowGroupLimit top-k — so BLAS floating-point
    summation order affects only WHICH candidates are pre-selected
    (protected by the margin against sub-ulp rounding-boundary flips),
    never the reported scores or their order: results are bit-identical
    to the expression path.

    Scale shape at 100 TB: two base scans (score + rescore-probe via a
    broadcast hash join, no shuffle of the base either time), one
    candidate-sized shuffle. No driver-side materialization of anything
    data-sized."""
    from pyspark.sql.functions import pandas_udf  # noqa: F401  (arrow path)

    qpd = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        ).toPandas()
    )
    if qpd.empty:
        raise ValueError("cosine_topk_scan: empty query set")
    q_ids = qpd["query_id"].to_numpy(dtype=np.int64)
    qm = np.stack(qpd["qv"].to_numpy()).astype(np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    take_n = k + max(batch_margin, 0)

    def partial_topk(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            b_ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            bm = np.stack(pdf["nv"].to_numpy()).astype(np.float64)
            bm = bm / np.linalg.norm(bm, axis=1, keepdims=True)
            s = np.round(qm @ bm.T, 6)  # (nq, nb)
            s[q_ids[:, None] == b_ids[None, :]] = -np.inf
            nb = s.shape[1]
            t = min(take_n, nb)
            order = np.lexsort((b_ids[None, :].repeat(len(q_ids), 0), -s), axis=1)
            take = order[:, :t]
            rows = np.repeat(np.arange(len(q_ids)), t)
            cols = take.ravel()
            keep = ~np.isinf(s[rows, cols])
            yield pd.DataFrame(
                {
                    "query_id": q_ids[rows[keep]],
                    "neighbor_id": b_ids[cols[keep]],
                }
            )

    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    cand = base.mapInPandas(partial_topk, "query_id long, neighbor_id long")
    qv_side = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    rescored = (
        base.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv_side), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("qv"), F.col("nv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return rescored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def rrf_fuse(
    rankings,
    k: int = 60,
    id_col: str = "id",
    rank_col: str = "rank",
    topk: int = 10,
) -> DataFrame:
    """[id, rrf, n_lists, rank] — reciprocal-rank fusion (Cormack et al.,
    SIGIR'09) of N ranked lists: score(d) = Σ_lists 1 / (k + rank_d).
    The standard hybrid-retrieval combiner (BM25 ⊕ dense ANN): rank-based,
    so the lists' incomparable score scales never need calibration; a
    document missing from a list simply contributes nothing.

    Scale shape: a unionByName of the (already small, top-k-bounded)
    ranked lists, ONE combine-enabled groupBy(id), and a
    TakeOrderedAndProject final top-k. Fusing costs nothing next to the
    retrievers that produced the lists."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(id_col).alias("__id"),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col))).alias("__c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("__id").agg(
        F.round(F.sum("__c"), 6).alias("rrf"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    from pyspark.sql.window import Window

    top = fused.orderBy(F.desc("rrf"), F.asc("__id")).limit(topk)
    w = Window.orderBy(F.desc("rrf"), F.asc("__id"))
    return top.select(
        F.col("__id").alias(id_col),
        "rrf",
        "n_lists",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """[query_id, neighbor_id, query_label, neighbor_label, cosine, rank]
    — per query, the top-``k`` most-similar vectors with a DIFFERENT
    label: hard-negative mining for contrastive / embedding training
    (the negatives closest to the anchor are the informative ones;
    random negatives are trivially separable). Self-matches and
    same-label vectors are excluded.

    Scale shape: identical to :func:`cosine_topk_scan`'s contract — the
    BASE stays distributed, the query set broadcasts, and the per-query
    top-k runs as a rank-truncating window (WindowGroupLimit pushes the
    limit into the partial sort). The label filter prunes BEFORE
    scoring, so same-label pairs never reach the dot product. Use the
    IVF/LSH-bucketed variants upstream when the base no longer scans."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("qv"),
    )
    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("nv"),
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("query_label") != F.col("neighbor_label"))
        .select(
            "query_id",
            "neighbor_id",
            "query_label",
            "neighbor_label",
            F.round(cosine_expr(F.col("qv"), F.col("nv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
