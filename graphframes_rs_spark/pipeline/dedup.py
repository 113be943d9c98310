"""Deduplication operators for LLM training-data pipelines.

Five families, all shuffle-conscious and Python-free in the hot path:

* **exact**       — md5 groupBy; one shuffle on the 128-bit content hash.
* **minhash LSH** — word-shingles → k seeded minhashes → b bands; candidate
                    pairs only where a band bucket collides (the classic
                    Broder / MMDS construction); exact Jaccard verification
                    on candidates. Scales as O(docs·k + collisions), never
                    O(docs²).
* **simhash**     — per-token 60-bit hashes folded into a 32-bit signature
                    by bitwise majority vote; ``simhash_near_duplicates``
                    finds pairs within a Hamming budget via the banded
                    pigeonhole join (max_hamming+1 bands → any pair in
                    budget collides on a whole band), exact popcount filter
                    on candidates.
* **n-gram Jaccard** — shingle inverted-index self-join; exact similarity
                    for corpora where candidate generation is affordable.
* **embedding**   — cosine-over-threshold pairs on an embedding column.
                    Two candidate generators (``method=``): blocked-BLAS
                    gram matrices (exact pair set, per-task bounded, but
                    O(n²) total FLOPs — right up to ~10M vectors) and
                    IVF-cell-bounded (similarity.ivf_cosine_candidates:
                    O(n^1.5·d) at nlist = sqrt(n), recall-gated — the
                    100 TB dial). Survivors re-score with the exact
                    sequential-fold SQL cosine either way.

All constants (hash family, modulus, seeds) are plain arithmetic on the
md5-derived 60-bit hash so the DuckDB oracle reproduces values exactly.

Every non-exact family also has an INCREMENTAL ingestion path against a
persistent, provenance-carrying corpus index (build once, save to
parquet, O(batch) append, query per batch): :class:`MinHashIndex` →
:func:`dedup_against_index`, :class:`SimHashIndex` →
:func:`simhash_against_index`, :class:`ExactSubstrIndex` →
:func:`exact_substr_spans_against_index`, and
:class:`similarity.IVFIndex` → :func:`embedding_dedup_against_index` —
so a daily re-crawl pays O(batch), never O(corpus).
"""

from __future__ import annotations

import time
from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphframes_rs_spark.pipeline.text import hash60, tokens

# Mersenne-ish prime modulus for the universal hash family; all arithmetic
# stays < 2^63 (a,b < 2^31, x < 2^31) so ANSI-mode Spark never overflows.
MH_PRIME = 2_147_483_647


def minhash_params(k: int, seed: int = 42) -> List[Tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a_i*x + b_i) mod p.
    Simple LCG expansion of the seed — reproducible in plain SQL tests."""
    params = []
    state = seed
    for _ in range(k):
        state = (state * 1_103_515_245 + 12_345) % (2**31)
        a = state | 1  # odd, non-zero
        state = (state * 1_103_515_245 + 12_345) % (2**31)
        b = state
        params.append((a, b))
    return params


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column."""
    toks = F.split(col, " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """[doc_id, content_hash, canonical_id, is_duplicate]: canonical = min
    doc_id per identical content; is_duplicate marks non-canonical copies."""
    hashed = docs.select("doc_id", F.md5(F.col(text_col)).alias("content_hash"))
    canon = hashed.groupBy("content_hash").agg(F.min("doc_id").alias("canonical_id"))
    return (
        hashed.join(canon, "content_hash")
        .select(
            "doc_id",
            "content_hash",
            "canonical_id",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", k: int = 16, n: int = 3, seed: int = 42
) -> DataFrame:
    """[doc_id, mh_0..mh_{k-1}]: minhash sketch over word n-gram shingles.

    Shingle → 60-bit md5 hash → reduced mod p → k universal hashes, min per
    doc — computed entirely with higher-order array functions, so the
    operator is a NARROW map over the documents: ZERO shuffle, no explode,
    no aggregate. (The obvious explode + groupBy(doc_id) formulation
    re-shuffles every (doc, shingle) row just to put back together what was
    already together; measured at sf0.1 it was ~4x slower than this
    map-side shape.) At 100 TB the sketch step therefore rides the scan —
    only the downstream band join shuffles."""
    params = minhash_params(k, seed)
    xs = F.transform(
        shingles(F.col(text_col), n),
        lambda s: hash60(s) % MH_PRIME,
    )
    def _perm(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % MH_PRIME

    sig_cols = [
        F.array_min(F.transform(F.col("__xs"), _perm(a, b))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(params)
    ]
    return docs.select("doc_id", xs.alias("__xs")).select("doc_id", *sig_cols)


DEFAULT_MAX_BUCKET_SIZE = 1024
DEFAULT_MAX_DOC_FREQ = 1024


def _lsh_band_keys(k: int, bands: int) -> List[Column]:
    """One bucket-key Column per band: rolling 31x combination of the
    band's minhash rows, re-reduced mod 1e9+7 each step so intermediates
    never overflow int64 (ANSI mode throws)."""
    rows = k // bands
    band_keys = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        key = cols[0] % F.lit(1_000_000_007)
        for c in cols[1:]:
            key = (key * 31 + c) % F.lit(1_000_000_007)
        band_keys.append(key)
    return band_keys


def minhash_lsh_candidates(
    signatures: "DataFrame | MinHashIndex",
    k: int | None = None,
    bands: int | None = None,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """[doc_a, doc_b] candidate near-dup pairs: docs sharing at least one
    LSH band bucket (band key = rolling combination of the band's rows).

    Candidate output is Σ_buckets |bucket|², so a corpus dense in duplicate
    clusters produces quadratically many pairs per cluster — measured: a
    10×-duplicated 50k-doc corpus emits ~300k pairs and pair
    materialization dominates. ``max_bucket_size`` is the scale dial:
    buckets above it are dropped from candidate generation (standard LSH
    practice — a bucket that big means the band is degenerate for those
    docs, and downstream exact verification would reject or a dedup
    clusterer would union-find them anyway).

    The cap defaults ON (``DEFAULT_MAX_BUCKET_SIZE`` = 1024, bounding any
    single task at ~1M pair rows) so the degenerate-bucket blowup is never
    the default behavior at scale; pass ``max_bucket_size=None`` to opt in
    to exact-all-buckets output.

    ``signatures`` may be a prebuilt :class:`MinHashIndex` instead of a
    signature frame: its stored banded table is grouped directly (the
    within-corpus reuse of the same artifact the incremental path
    queries), with ``k``/``bands`` defaulting to the index provenance and
    an explicit conflict raising."""
    if isinstance(signatures, MinHashIndex):
        for pname, given, built in (
            ("k", k, signatures.k), ("bands", bands, signatures.bands)
        ):
            if given is not None and given != built:
                raise ValueError(
                    f"{pname}={given!r} conflicts with the MinHashIndex's "
                    f"build provenance ({built!r})"
                )
        banded = signatures.banded
    else:
        k = 16 if k is None else k
        bands = 4 if bands is None else bands
        band_keys = _lsh_band_keys(k, bands)
        # One posexplode over the per-row band-key array instead of a
        # bands-way union of selects: a union re-executes the whole upstream
        # signature pipeline (explode + groupBy agg) once per band — no
        # ReusedExchange fires across union branches — while this scans it
        # exactly once (measured at sf0.1: 13.8s -> one signature pass).
        banded = signatures.select(
            "doc_id", F.posexplode(F.array(*band_keys)).alias("band", "bucket")
        )
    # Pair generation via bucket membership lists rather than a self-join:
    # a self-join would recompute the whole signature pipeline once per side
    # (measured: no ReusedExchange fires), while this computes it once and
    # shuffles only (band, bucket, doc_id). Pair count per bucket is
    # |bucket|^2 either way; a degenerate giant bucket concentrates in one
    # task here, but such a bucket means the band itself is degenerate —
    # at scale, drop or re-band buckets above a size cap before exploding.
    members = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_bucket_size is not None:
        members = members.filter(F.size("ds") <= max_bucket_size)
    return (
        members.select(F.posexplode("ds").alias("i", "doc_a"), F.col("ds"))
        .select("doc_a", F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("doc_b"))
        .distinct()
    )


def dedup_against_index(
    new_docs: DataFrame,
    index_docs: "DataFrame | MinHashIndex",
    text_col: str = "text",
    k: int | None = None,
    bands: int | None = None,
    n: int | None = None,
    threshold: float = 0.5,
    seed: int | None = None,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    skip_same_id: bool = False,
) -> DataFrame:
    """[new_id, index_id, jaccard]: NEW documents near-duplicating an
    EXISTING corpus — the incremental-ingestion dedup pattern. A pipeline
    that re-crawls daily must dedup each batch against everything already
    accepted; re-running all-pairs dedup over index ∪ batch re-pays the
    whole corpus every day, while this compares only new x index (never
    new x new, never index x index: within-batch dedup composes via
    :func:`ngram_jaccard_pairs` / :func:`duplicate_clusters` on the batch
    alone, which is small).

    Same two-stage contract as every dedup operator here: (1) LSH band
    collisions between the batch's and the index's minhash signatures
    (identical band construction to :func:`minhash_lsh_candidates`, same
    seeded hash family, so an index signature table can be precomputed
    once and reused across batches); (2) exact distinct-shingle Jaccard
    verification on the candidates via one array-intersection per pair —
    candidates only, the |new| x |index| cross product never exists.

    Ids label each frame independently: a doc_id present in BOTH frames
    is compared like any other cross-frame pair (the shingle joins are
    per-side, so the jaccard is over the two actual texts). With stable
    ids, an emitted ``(x, x, 1.0)`` row means the batch re-contains an
    already-indexed document — the re-ingestion signal, not a self-pair.
    BEHAVIOR CHANGE NOTE (r11): earlier versions silently dropped
    same-id pairs; callers who fed overlapping frames (e.g. the same
    table as both batch and index) and relied on that exclusion should
    pass ``skip_same_id=True`` to restore it — with it, a shared id is
    treated as "already indexed, don't re-compare".

    Scale shape: signatures are NARROW maps on both sides (zero shuffle —
    see minhash_signatures); the band join shuffles only
    (band, bucket, id) rows with the batch side typically tiny;
    ``max_bucket_size`` caps the INDEX side's degenerate buckets (a
    stop-band bucket holding half the index would otherwise fan every
    colliding new doc into |bucket| candidates). Verification joins each
    candidate to the two shingle arrays — per-pair payload bounded by
    document length. Exact (cap None) for oracle use; capped default for
    production.

    ``index_docs`` may be a prebuilt :class:`MinHashIndex` instead of a
    raw document frame: the corpus-side signature/shingle pipelines are
    then read from the index (paid once at :func:`minhash_index` time)
    and ``k``/``bands``/``n``/``seed`` default to its build provenance —
    an explicit conflicting value raises, because a mismatched hash
    family silently never collides. With a raw frame the classic
    defaults (16, 4, 3, 42) apply."""
    if isinstance(index_docs, MinHashIndex):
        for pname, given, built in (
            ("k", k, index_docs.k),
            ("bands", bands, index_docs.bands),
            ("n", n, index_docs.n),
            ("seed", seed, index_docs.seed),
        ):
            if given is not None and given != built:
                raise ValueError(
                    f"{pname}={given!r} conflicts with the MinHashIndex's "
                    f"build provenance ({built!r}) — band keys would "
                    "silently never collide"
                )
        k, bands, n, seed = (
            index_docs.k, index_docs.bands, index_docs.n, index_docs.seed
        )
        banded_idx = index_docs.banded.select(
            F.col("doc_id").alias("index_id"), "band", "bucket"
        )
        sh_idx = index_docs.shingle_arrays.select(
            F.col("doc_id").alias("index_id"), F.col("__sh").alias("__sh_i")
        )
    else:
        k = 16 if k is None else k
        bands = 4 if bands is None else bands
        n = 3 if n is None else n
        seed = 42 if seed is None else seed
        b_idx, s_idx = _minhash_index_tables(
            index_docs, text_col, k, bands, n, seed
        )
        banded_idx = b_idx.select(
            F.col("doc_id").alias("index_id"), "band", "bucket"
        )
        sh_idx = s_idx.select(
            F.col("doc_id").alias("index_id"), F.col("__sh").alias("__sh_i")
        )
    sig_new = minhash_signatures(new_docs, text_col=text_col, k=k, n=n, seed=seed)
    keys = _lsh_band_keys(k, bands)
    banded_new = sig_new.select(
        F.col("doc_id").alias("new_id"),
        F.posexplode(F.array(*keys)).alias("band", "bucket"),
    )
    if max_bucket_size is not None:
        # cap on the index side only: the index is the big side, and a
        # degenerate index bucket means that band carries no signal there
        bucket_sizes = banded_idx.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__bsz")
        )
        banded_idx = banded_idx.join(
            bucket_sizes.filter(F.col("__bsz") <= max_bucket_size),
            ["band", "bucket"],
            "left_semi",
        )
    # Same-id pairs are NOT filtered: new_id and index_id name documents
    # in two DIFFERENT frames, so (x, x, jaccard) compares the batch's
    # doc x against the index's doc x — the actual texts, via the two
    # per-side shingle joins below. With stable (e.g. URL-derived) ids,
    # that row is precisely the re-ingestion signal an incremental
    # pipeline wants; with per-frame sequential ids it is an ordinary
    # cross-frame comparison that happens to share a label. An id-equality
    # filter here would silently report a re-crawled duplicate as clean.
    cands = (
        banded_new.join(banded_idx, ["band", "bucket"])
        .select("new_id", "index_id")
        .distinct()
    )
    if skip_same_id:
        cands = cands.filter(F.col("new_id") != F.col("index_id"))

    sh_new = new_docs.select(
        F.col("doc_id").alias("new_id"),
        shingles(F.col(text_col), n).alias("__sh_n"),
    )
    inter = F.size(F.array_intersect(F.col("__sh_n"), F.col("__sh_i")))
    union = F.size("__sh_n") + F.size("__sh_i") - inter
    pairs = (
        cands.join(sh_new, "new_id")
        .join(sh_idx, "index_id")
        .select(
            "new_id",
            "index_id",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if isinstance(index_docs, MinHashIndex):
        # A REPLAYED minhash_index_append (the at-least-once foreachBatch
        # world) stores the batch's rows twice in both index tables; the
        # candidate distinct() absorbs the banded copies, but each
        # duplicated shingle row re-emits its pair here with the same
        # (identical-array) jaccard. Dedup on the OUTPUT — bounded by
        # emitted-pair count — instead of the corpus-sized shingle table.
        pairs = pairs.dropDuplicates(["new_id", "index_id"])
    return pairs


def embedding_dedup_against_index(
    new_embeddings: DataFrame,
    index,
    threshold: float = 0.9,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    skip_same_id: bool = False,
    broadcast_batch: bool = True,
) -> DataFrame:
    """[new_id, index_id, cosine]: NEW embeddings near-duplicating an
    EXISTING corpus via a prebuilt :class:`similarity.IVFIndex` — the
    embedding-space twin of :func:`dedup_against_index` (same incremental
    contract: only new x index, never new x new or index x index; the
    KMeans fit and the corpus assignment were paid ONCE at
    ``similarity.ivf_index`` time and amortize across every batch, like
    the precomputed MinHash signature table there).

    Each new vector probes its ``nprobe`` nearest cells; candidates are
    the index vectors HOME-assigned to a probed cell (one equi-join on
    list_id with the small exploded batch broadcast); survivors are
    re-scored with the exact sequential-fold cosine — approximate
    candidate generation, exact emitted scores, the ANN-family contract.

    Same-id policy mirrors :func:`dedup_against_index`: a shared id is an
    ordinary cross-frame comparison of the two actual vectors (the
    re-ingestion signal with stable ids); pass ``skip_same_id=True`` to
    drop shared-id pairs instead.

    ``broadcast_batch``: True (default) force-broadcasts the exploded
    batch side of the probe join — right for ingestion batches up to a
    few hundred MB of ``|batch| * nprobe * dim`` doubles. The explicit
    hint bypasses ``autoBroadcastJoinThreshold``, so for corpus-scale
    batches (the re-crawl-everything case) pass ``False`` to get a plain
    shuffle join on list_id instead of blowing the broadcast limit —
    identical output either way."""
    from graphframes_rs_spark.pipeline import similarity as _sim

    cands = _sim._ivf_probe_candidates(
        index, new_embeddings, nprobe, vec_col, id_col, "new_id", "index_id",
        broadcast_queries=broadcast_batch,
    )
    if skip_same_id:
        cands = cands.filter(F.col("new_id") != F.col("index_id"))
    # no distinct(): each index vector is HOME-assigned to exactly one
    # cell, so a (new, index) pair can only surface once — adding one
    # would be a pure extra shuffle at corpus scale
    return cands.select(
        "new_id",
        "index_id",
        F.round(_sim.cosine_expr(F.col("qv"), F.col("nv")), 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


class MinHashIndex:
    """Precomputed MinHash state of an accepted corpus, wrapped with its
    ``(k, bands, n, seed)`` build provenance — the MinHash-space peer of
    :class:`similarity.IVFIndex` and :class:`ExactSubstrIndex`, closing
    the index-object symmetry across the three dedup spaces. Holds the
    two tables every ingestion batch needs:

    * ``banded`` ``[doc_id, band, bucket]`` — the exploded LSH band keys
      (candidate stage; the expensive signature pipeline paid once);
    * ``shingle_arrays`` ``[doc_id, __sh]`` — the distinct word-n-gram
      arrays (exact Jaccard verification stage).

    Pass the object straight to :func:`dedup_against_index` as
    ``index_docs``: the per-batch cost drops to the BATCH's own narrow
    signature map + the band join — the corpus is never re-shingled. A
    silent param mismatch between index build and query would make band
    keys never collide (different hash family) and wave re-crawled
    duplicates through, so query-time params that conflict with the
    stored provenance raise instead (same discipline as the other two
    index classes)."""

    def __init__(
        self,
        banded: DataFrame,
        shingle_arrays: DataFrame,
        k: int,
        bands: int,
        n: int,
        seed: int,
    ):
        self.banded = banded
        self.shingle_arrays = shingle_arrays
        self.k = k
        self.bands = bands
        self.n = n
        self.seed = seed

    def save(self, path: str) -> None:
        """Persist under ``path`` (parquet: ``banded/`` + ``shingles/`` +
        a one-row ``meta/`` carrying the provenance). Reload with
        :func:`minhash_index_load`; grow in place with
        :func:`minhash_index_append`."""
        spark = self.banded.sparkSession
        self.banded.write.mode("overwrite").parquet(path + "/banded")
        self.shingle_arrays.write.mode("overwrite").parquet(path + "/shingles")
        spark.createDataFrame(
            [(int(self.k), int(self.bands), int(self.n), int(self.seed))],
            "k int, bands int, n int, seed int",
        ).write.mode("overwrite").parquet(path + "/meta")

    def append(self, accepted_docs: DataFrame, text_col: str = "text") -> "MinHashIndex":
        """A new LAZY index = this one ∪ an accepted batch, computed with
        the stored provenance (the in-memory form of daily growth; for
        the persisted form use :func:`minhash_index_append`, which
        appends only the batch's rows to the parquet dirs)."""
        b, sh = _minhash_index_tables(
            accepted_docs, text_col, self.k, self.bands, self.n, self.seed
        )
        return MinHashIndex(
            self.banded.unionByName(b),
            self.shingle_arrays.unionByName(sh),
            self.k, self.bands, self.n, self.seed,
        )


def _minhash_index_tables(
    docs: DataFrame, text_col: str, k: int, bands: int, n: int, seed: int
) -> tuple[DataFrame, DataFrame]:
    """The (banded, shingle_arrays) pair for one frame — the single
    construction shared by index build, append, and the non-indexed
    dedup_against_index path, so band keys can never diverge between
    the index and the batch."""
    sig = minhash_signatures(docs, text_col=text_col, k=k, n=n, seed=seed)
    keys = _lsh_band_keys(k, bands)
    banded = sig.select(
        "doc_id", F.posexplode(F.array(*keys)).alias("band", "bucket")
    )
    sh = docs.select("doc_id", shingles(F.col(text_col), n).alias("__sh"))
    return banded, sh


def minhash_index(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    seed: int = 42,
    checkpoint_dir: str | None = None,
) -> MinHashIndex:
    """Build a :class:`MinHashIndex` over an accepted corpus: the banded
    signature table and the distinct-shingle arrays, both NARROW maps
    over the documents (zero shuffle — see :func:`minhash_signatures`),
    so the build rides one corpus scan. ``checkpoint_dir`` persists it
    (via :meth:`MinHashIndex.save`) and reads it back, cutting lineage so
    daily batches scan parquet instead of recomputing the corpus
    pipeline — at 100 TB the re-read is the difference between a batch
    costing O(batch) and O(corpus)."""
    banded, sh = _minhash_index_tables(docs, text_col, k, bands, n, seed)
    idx = MinHashIndex(banded, sh, k, bands, n, seed)
    if checkpoint_dir is not None:
        idx.save(checkpoint_dir)
        return minhash_index_load(docs.sparkSession, checkpoint_dir)
    return idx


def minhash_index_load(
    spark, path: str, repair_torn: bool = False
) -> MinHashIndex:
    """Reload a :meth:`MinHashIndex.save`'d index; fails fast with a
    descriptive error when the meta table is missing/empty rather than
    guessing provenance (a wrong guess silently matches nothing).

    Also validates the banded/shingles tables are CONSISTENT (banded
    rows == bands x shingle rows — every doc contributes exactly
    ``bands`` banded rows and one shingle row): a crash between
    :func:`minhash_index_append`'s two parquet appends leaves a torn
    index whose orphan rows would skew the two-stage dedup. The two
    counts are parquet-footer metadata reads, not scans.

    ``repair_torn``: when the tear is the append order's expected
    direction (shingles written, banded crash — extra shingle rows, the
    INERT side), trim the orphan shingle rows back to the banded doc set
    via a staged rewrite + rename-aside swap, then re-append the whole
    batch with :func:`minhash_index_append`. The repair rewrites the
    shingles dir (one corpus-shingle pass — a rare recovery cost, not a
    steady-state one). A tear in the other direction (banded rows
    without shingle twins — impossible from the append's write order,
    so it means external surgery) always requires a full rebuild."""
    import os as _os
    import shutil as _sh

    meta = spark.read.parquet(path + "/meta").collect()
    if not meta:
        raise ValueError(
            f"minhash_index_load: {path}/meta is empty — the save dir is "
            "missing or was only partially written; re-run MinHashIndex.save"
        )
    m = meta[0]
    banded = spark.read.parquet(path + "/banded")
    sh = spark.read.parquet(path + "/shingles")
    nb, ns = banded.count(), sh.count()
    if nb != int(m["bands"]) * ns:
        if repair_torn and nb < int(m["bands"]) * ns:
            # orphan shingle rows (the crash-between-appends state):
            # keep only shingle rows whose doc_id has banded twins,
            # staged write + rename-aside so a crash mid-repair never
            # leaves a worse state than the one being repaired
            staged = path + "/shingles.staging"
            old = path + "/shingles.old"
            _sh.rmtree(staged, ignore_errors=True)
            _sh.rmtree(old, ignore_errors=True)
            sh.join(
                banded.select("doc_id").distinct(), "doc_id", "left_semi"
            ).write.mode("overwrite").parquet(staged)
            _os.rename(path + "/shingles", old)
            _os.rename(staged, path + "/shingles")
            _sh.rmtree(old, ignore_errors=True)
            return minhash_index_load(spark, path)
        raise ValueError(
            f"minhash_index_load: {path} is torn — banded has {nb} rows "
            f"but shingles x bands = {ns} x {m['bands']} = "
            f"{ns * int(m['bands'])} (a crash between "
            "minhash_index_append's two appends leaves this state). "
            + (
                "Rebuild with minhash_index — banded rows without shingle "
                "twins cannot come from the append path, so the repair "
                "flag does not cover this direction."
                if nb > int(m["bands"]) * ns
                else "Recover with minhash_index_load(..., repair_torn="
                "True) to trim the orphan shingle rows, then re-append "
                "the interrupted batch; or rebuild with minhash_index."
            )
        )
    return MinHashIndex(
        banded, sh, int(m["k"]), int(m["bands"]), int(m["n"]), int(m["seed"])
    )


def minhash_index_append(
    spark, path: str, accepted_docs: DataFrame, text_col: str = "text"
) -> MinHashIndex:
    """Grow a persisted index by ONE accepted batch: compute the batch's
    banded + shingle tables with the STORED provenance and parquet-append
    them — O(batch) work and O(batch) new bytes, the corpus dirs are
    never rewritten (contrast rebuilding, which re-pays the corpus scan
    daily). Returns the reloaded (now larger) index. Not safe for two
    concurrent appenders (plain parquet append, no transaction log) —
    serialize appends or use a transactional table format at that
    point. The two appends are also not atomic against a crash between
    them; the reload below (and every :func:`minhash_index_load`)
    detects that torn state via the banded == bands x shingles row
    invariant and raises rather than silently waving duplicates through
    (the silent mode: banded rows without shingle twins generate
    candidates the shingle join then drops) — recover with
    ``minhash_index_load(..., repair_torn=True)`` then re-append.

    A fully REPLAYED append (both writes committed twice — the
    at-least-once foreachBatch world) passes the torn invariant with the
    batch's rows duplicated in both tables; :func:`dedup_against_index`
    absorbs that at query time (candidate ``distinct()`` + an emitted-
    pair dedup on the MinHashIndex path), so replays cost index bytes,
    never duplicate or wrong output pairs."""
    idx = minhash_index_load(spark, path)
    b, sh = _minhash_index_tables(
        accepted_docs, text_col, idx.k, idx.bands, idx.n, idx.seed
    )
    # shingles first: if the crash lands between the two appends, the
    # torn state is extra shingle rows — inert even for a reader that
    # skips the load invariant (candidates come from banded) — instead
    # of the dangerous direction (banded without shingles)
    sh.write.mode("append").parquet(path + "/shingles")
    b.write.mode("append").parquet(path + "/banded")
    return minhash_index_load(spark, path)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """[doc_a, doc_b, jaccard]: pairs with word-n-gram Jaccard >= threshold,
    via a shingle inverted index (common-shingle counting), never
    materializing the doc×doc cross product.

    Exact by default. Pair-generation work is Σ_shingles df(s)², dominated
    by ultra-common shingles that contribute candidates with near-zero
    Jaccard. ``max_doc_freq`` drops shingles appearing in more than that
    many docs from CANDIDATE GENERATION ONLY — with it set, reported
    jaccard values undercount by the dropped shingles, so treat the output
    as a candidate filter and re-verify exact where that matters. This is
    the dial that keeps the operator output-bound instead of
    stop-shingle-bound on web-scale corpora; it defaults ON
    (``DEFAULT_MAX_DOC_FREQ`` = 1024) so a stop-shingle can never
    concentrate a quadratic posting list in one task by default — pass
    ``max_doc_freq=None`` for exact similarity over every shingle."""
    sh = docs.select(
        "doc_id", F.explode(shingles(F.col(text_col), n)).alias("shingle")
    )
    # |A| per doc is the DISTINCT-shingle count and shingles() already
    # returns a distinct array, so size() computes it as a NARROW map —
    # the explode + groupBy(doc_id) form paid one full corpus exchange
    # and a second explode pass just to re-count what the array already
    # knows (guide §2.4: remove shuffles outright). A NULL-text doc has
    # no shingles hence no candidate pairs, so its sizes row (absent
    # before, size=NULL now) can never reach the inner joins below —
    # outputs are bit-identical.
    sizes = docs.select(
        "doc_id", F.size(shingles(F.col(text_col), n)).cast("long").alias("n_sh")
    )
    # Inverted index as posting lists (shingle -> sorted doc ids), pairs by
    # in-array explosion: one scan of the shingle pipeline instead of the
    # self-join's two (no ReusedExchange fires for the join form). Posting
    # lists of stop-shingles concentrate |list|^2 pair rows in one task —
    # identical blowup to the self-join, which shuffles the same shingle to
    # the same partition; at scale, cap or drop ultra-common shingles first.
    postings = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    ).filter(F.size("ds") > 1)
    if max_doc_freq is not None:
        postings = postings.filter(F.size("ds") <= max_doc_freq)
    common = (
        postings.select(F.posexplode("ds").alias("i", "doc_a"), F.col("ds"))
        .select(
            "doc_a",
            F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sz_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """[doc_a, doc_b, containment]: pairs whose word-n-gram CONTAINMENT
    ``|A ∩ B| / min(|A|, |B|)`` >= threshold — the quote / excerpt /
    subset-duplication detector. Jaccard misses a short document pasted
    verbatim inside a long one (the union term swamps the overlap);
    containment normalizes by the SMALLER shingle set, so a full quote
    scores 1.0 regardless of the host document's length. Same inverted
    index + posting-list pair generation as :func:`ngram_jaccard_pairs`
    (one shingle scan, never |docs|²), same ``max_doc_freq`` stop-shingle
    cap — only the final similarity expression differs, so the 100 TB
    story is identical: pair work is Σ_shingles df(s)² bounded by the cap.
    """
    sh = docs.select(
        "doc_id", F.explode(shingles(F.col(text_col), n)).alias("shingle")
    )
    # narrow distinct-shingle count — see ngram_jaccard_pairs (r14)
    sizes = docs.select(
        "doc_id", F.size(shingles(F.col(text_col), n)).cast("long").alias("n_sh")
    )
    postings = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    ).filter(F.size("ds") > 1)
    if max_doc_freq is not None:
        postings = postings.filter(F.size("ds") <= max_doc_freq)
    common = (
        postings.select(F.posexplode("ds").alias("i", "doc_a"), F.col("ds"))
        .select(
            "doc_a",
            F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sz_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / F.least(F.col("sz_a"), F.col("sz_b")), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """[doc_id, simhash]: bitwise-majority signature over per-token 60-bit
    hashes. Tokens vote +1/-1 per bit position; the signature sets bit j
    when the vote is positive."""
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("t")
    ).select("doc_id", hash60(F.col("t")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(bits)
    ]
    voted = tok.groupBy("doc_id").agg(*votes)
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig + F.when(F.col(f"v_{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return voted.select("doc_id", sig.alias("simhash"))


def _simhash_band_vals(bits: int, max_hamming: int) -> Column:
    """The array of ``max_hamming + 1`` band values of the ``simhash``
    column — the pigeonhole banding shared by
    :func:`simhash_near_duplicates` and :func:`simhash_against_index`
    (one construction, so the index side and the batch side can never
    band differently). Leftover bits are distributed over the leading
    bands so every bit is covered (uneven widths preserve the pigeonhole
    guarantee: any pair within the Hamming budget agrees on at least one
    whole band)."""
    n_bands = max_hamming + 1
    width = bits // n_bands
    widths = [width + (1 if i < bits % n_bands else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    return F.array(
        *[
            F.shiftright(F.col("simhash"), offsets[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1))
            .alias(f"b{i}")
            for i in range(n_bands)
        ]
    )


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """[doc_a, doc_b, hamming]: near-duplicate pairs whose simhash
    signatures differ in at most ``max_hamming`` bits, via the standard
    banded Hamming join: the ``bits``-bit signature is split into
    ``max_hamming + 1`` bands, so by pigeonhole any pair within the
    Hamming budget collides on at least one whole band. Candidates are
    band-bucket collisions (never all-pairs); the exact popcount filter
    then makes the output identical to a brute-force scan.

    Work is Σ_buckets |bucket|² like every LSH family; ``max_bucket_size``
    (default ON) drops degenerate buckets — a band value shared by
    thousands of docs means that band carries no signal for them."""
    sigs = simhash(docs, text_col=text_col, bits=bits)
    band_vals = _simhash_band_vals(bits, max_hamming)
    banded = sigs.select(
        "doc_id", "simhash", F.posexplode(band_vals).alias("band", "band_val")
    )
    members = (
        banded.groupBy("band", "band_val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("doc_id"), F.col("simhash")))
            ).alias("ds")
        )
        .filter(F.size("ds") > 1)
    )
    if max_bucket_size is not None:
        members = members.filter(F.size("ds") <= max_bucket_size)
    pairs = (
        members.select(F.posexplode("ds").alias("i", "a"), F.col("ds"))
        .select(
            "a",
            F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("b"),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.distinct()


class SimHashIndex:
    """Persistent simhash state of an accepted corpus: the signature
    table ``[doc_id, simhash]`` (8 bytes/doc — by far the lightest of the
    four dedup-space indexes) plus the ``bits`` build provenance. Only
    ``bits`` is provenance: the pigeonhole banding is derived from the
    signatures at query time, so one saved index serves ANY
    ``max_hamming`` budget — contrast :class:`MinHashIndex`, whose band
    keys bake in (k, bands). Completes the incremental-index symmetry:
    MinHash / embedding / exact-substr / simhash all reuse a
    built-once corpus artifact per ingestion batch."""

    def __init__(self, sigs: DataFrame, bits: int):
        self.sigs = sigs
        self.bits = bits

    def save(self, path: str) -> None:
        """Persist under ``path`` (parquet ``sigs/`` + one-row ``meta/``).
        Reload with :func:`simhash_index_load`; grow with
        :func:`simhash_index_append`."""
        spark = self.sigs.sparkSession
        self.sigs.write.mode("overwrite").parquet(path + "/sigs")
        spark.createDataFrame(
            [(int(self.bits),)], "bits int"
        ).write.mode("overwrite").parquet(path + "/meta")

    def append(self, accepted_docs: DataFrame, text_col: str = "text") -> "SimHashIndex":
        """A new LAZY index = this one ∪ an accepted batch's signatures
        (persisted growth: :func:`simhash_index_append`)."""
        return SimHashIndex(
            self.sigs.unionByName(
                simhash(accepted_docs, text_col=text_col, bits=self.bits)
            ),
            self.bits,
        )


def simhash_index(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = 32,
    checkpoint_dir: str | None = None,
) -> SimHashIndex:
    """Build a :class:`SimHashIndex` over an accepted corpus — one
    token-explode + groupBy(doc_id) pass, after which every ingestion
    batch pays only its OWN signature pass plus a band join against
    8 bytes/corpus-doc. ``checkpoint_dir`` persists + reloads (lineage
    cut, parquet scan thereafter)."""
    idx = SimHashIndex(simhash(docs, text_col=text_col, bits=bits), bits)
    if checkpoint_dir is not None:
        idx.save(checkpoint_dir)
        return simhash_index_load(docs.sparkSession, checkpoint_dir)
    return idx


def simhash_index_load(spark, path: str) -> SimHashIndex:
    """Reload a :meth:`SimHashIndex.save`'d index; fails fast on a
    missing/empty meta table rather than guessing ``bits``."""
    meta = spark.read.parquet(path + "/meta").collect()
    if not meta:
        raise ValueError(
            f"simhash_index_load: {path}/meta is empty — the save dir is "
            "missing or was only partially written; re-run SimHashIndex.save"
        )
    return SimHashIndex(
        spark.read.parquet(path + "/sigs"), int(meta[0]["bits"])
    )


def simhash_index_append(
    spark, path: str, accepted_docs: DataFrame, text_col: str = "text"
) -> SimHashIndex:
    """Grow a persisted index by ONE accepted batch: parquet-append the
    batch's signatures computed with the stored ``bits`` — O(batch) work
    and bytes. Same single-appender caveat as
    :func:`minhash_index_append` (plain parquet append)."""
    idx = simhash_index_load(spark, path)
    simhash(accepted_docs, text_col=text_col, bits=idx.bits).write.mode(
        "append"
    ).parquet(path + "/sigs")
    return simhash_index_load(spark, path)


def simhash_against_index(
    new_docs: DataFrame,
    index: "SimHashIndex | DataFrame",
    text_col: str = "text",
    bits: int | None = None,
    max_hamming: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    skip_same_id: bool = False,
) -> DataFrame:
    """[new_id, index_id, hamming]: NEW documents within ``max_hamming``
    simhash bits of an EXISTING corpus — the simhash face of
    :func:`dedup_against_index` (same incremental contract: only
    new x index, never new x new or index x index; within-batch dedup
    composes via :func:`simhash_near_duplicates` on the batch alone).

    Candidates are pigeonhole band collisions between the batch's and
    the index's signatures (``max_hamming + 1`` bands via the SHARED
    :func:`_simhash_band_vals`, so the two sides can never band
    differently); the exact popcount filter makes the output identical
    to brute force (no misses possible with ``max_bucket_size=None``).
    ``index`` may be a prebuilt :class:`SimHashIndex` (``bits`` defaults
    to its provenance; an explicit conflict raises — signatures from
    different widths are incomparable) or a raw document frame
    (``bits`` defaults to 32). Same-id and bucket-cap policies mirror
    :func:`dedup_against_index`: shared ids are ordinary cross-frame
    comparisons (the re-ingestion signal) unless ``skip_same_id``; the
    cap drops degenerate INDEX buckets only."""
    if isinstance(index, SimHashIndex):
        if bits is not None and bits != index.bits:
            raise ValueError(
                f"bits={bits!r} conflicts with the SimHashIndex's build "
                f"provenance ({index.bits!r}) — signatures of different "
                "widths are incomparable"
            )
        bits = index.bits
        sig_idx = index.sigs
    else:
        bits = 32 if bits is None else bits
        sig_idx = simhash(index, text_col=text_col, bits=bits)
    sig_new = simhash(new_docs, text_col=text_col, bits=bits)
    band_vals = _simhash_band_vals(bits, max_hamming)
    banded_new = sig_new.select(
        F.col("doc_id").alias("new_id"),
        F.col("simhash").alias("__sig_n"),
        F.posexplode(band_vals).alias("band", "band_val"),
    )
    banded_idx = sig_idx.select(
        F.col("doc_id").alias("index_id"),
        F.col("simhash").alias("__sig_i"),
        F.posexplode(band_vals).alias("band", "band_val"),
    )
    if max_bucket_size is not None:
        bucket_sizes = banded_idx.groupBy("band", "band_val").agg(
            F.count(F.lit(1)).alias("__bsz")
        )
        banded_idx = banded_idx.join(
            bucket_sizes.filter(F.col("__bsz") <= max_bucket_size),
            ["band", "band_val"],
            "left_semi",
        )
    pairs = (
        banded_new.join(banded_idx, ["band", "band_val"])
        .select(
            "new_id",
            "index_id",
            F.bit_count(F.col("__sig_n").bitwiseXOR(F.col("__sig_i")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    if skip_same_id:
        pairs = pairs.filter(F.col("new_id") != F.col("index_id"))
    return pairs


# method="auto" crossover (rows): below this the exact blocked-BLAS sweep
# is both exact AND cheap enough that approximation buys nothing; above it
# the quadratic total FLOPs start to dominate and the IVF path wins on
# wall while staying recall-gated. Pinned by a measured sweep (blocked
# wins at 5k/10k/25k, IVF from 50k up, and the gap is a cliff by 200k,
# 158.7s vs 6.5s), not a guess; the asymptotic argument (O(n²·d) vs
# O(n^1.5·d)) guarantees the ordering holds past the largest measured
# point.
AUTO_METHOD_ROW_THRESHOLD = 25_000


def _auto_neardup_method(n_rows: int, row_threshold: int | None = None) -> str:
    """Pure selection rule behind ``method="auto"`` (unit-tested without a
    200k-row frame): exact ``"blocked"`` while the corpus is small enough
    that quadratic FLOPs are free, sub-quadratic ``"ivf"`` above."""
    cut = AUTO_METHOD_ROW_THRESHOLD if row_threshold is None else row_threshold
    return "blocked" if n_rows <= cut else "ivf"


def embedding_near_duplicates(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_blocks: int = 16,
    method: str = "auto",
    nlist: int | str = "auto",
    nprobe: int = 4,
    seed: int = 42,
    # 30/centroid, not ivf_topk's ranking-grade 100: candidate generation
    # only needs cells that PARTITION space (the exact rescore + the
    # recall gates are unchanged) — the bench scale-arm discipline. At
    # 200k rows the fit wall is centroid-count-dominated either way
    # (measured 9.8s at f=100 vs 7.7s at f=30); the f·sqrt(n) SAMPLE term
    # is what this caps as n grows (driver-side KMeans input stays 3.3x
    # smaller at every n)
    fit_points: int = 30,
    phase_stats: list | None = None,
    pins: list | None = None,
) -> DataFrame:
    """[id_a, id_b, cosine]: pairs above a cosine threshold.

    Two stages: (1) candidate generation; (2) candidates are re-scored
    with the exact sequential-fold SQL cosine and re-thresholded, so
    reported scores are bit-identical to a brute-force cross join (and to
    the DuckDB oracle) while never materializing the n^2 pair set.

    ``method`` selects the candidate generator:

    * ``"auto"`` (default) — ONE count of the corpus decides: exact
      ``"blocked"`` at or below ``AUTO_METHOD_ROW_THRESHOLD`` rows (where
      quadratic FLOPs are cheaper than approximating), ``"ivf"`` above
      (so a caller with defaults at corpus scale gets the sub-quadratic
      plan, never O(n²·d) total FLOPs). The chosen generator is recorded
      in ``phase_stats`` as ``("auto:<method>", n_rows, count_seconds)``.
      Callers who know their scale pass the method explicitly and skip
      the count.
    * ``"blocked"`` — blocked numpy/BLAS gram matrices, EXACT candidate
      set (O(n^2/B) work per task, B = replication dial — see
      similarity.blocked_cosine_candidates). Total FLOPs are quadratic in
      corpus size: the measured win up to ~25k vectors (the IVF fit floor
      dominates there), a cliff past ~100k.
    * ``"ivf"`` — IVF-cell-bounded candidates (see
      similarity.ivf_cosine_candidates): gram matrices only within a
      vector's home/probed KMeans cells, total FLOPs ~ nprobe·n²/nlist.
      Approximate: a pair whose probe sets are disjoint is missed
      (recall measured >= 0.8 on the fixtures via the
      `embedding_neardup_ivf` gate; raise nprobe for tighter recall).
      The 100 TB path.

    ``nlist="auto"`` (default) resolves to sqrt(n) — the balance point
    where IVF assignment (n·nlist·d) equals in-cell gram work
    (nprobe·n²·d/nlist), giving O(n^1.5·d) total; an explicit int skips
    the count. Only consulted when the IVF generator runs.
    """
    from graphframes_rs_spark.pipeline.similarity import (
        blocked_cosine_candidates,
        cosine_expr,
        ivf_cosine_candidates,
    )

    norm = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    n_rows = None
    if method == "auto":
        t0 = time.monotonic()
        n_rows = embeddings.count()
        method = _auto_neardup_method(n_rows)
        if phase_stats is not None:
            phase_stats.append(
                (f"auto:{method}", n_rows, round(time.monotonic() - t0, 2))
            )
    if method == "ivf":
        if nlist == "auto":
            if n_rows is None:
                n_rows = embeddings.count()
            # sqrt(n) balance point; floor of 2 (MLlib KMeans needs k>=2)
            nlist = max(int(n_rows ** 0.5), 2)
        cand = ivf_cosine_candidates(
            embeddings,
            threshold,
            vec_col=vec_col,
            id_col=id_col,
            nlist=nlist,
            nprobe=nprobe,
            seed=seed,
            fit_points=fit_points,
            phase_stats=phase_stats,
            pins=pins,
        )
    elif method == "blocked":
        cand = blocked_cosine_candidates(
            embeddings, threshold, vec_col=vec_col, id_col=id_col, n_blocks=n_blocks
        )
    else:
        raise ValueError(
            f"unknown method {method!r}: use 'auto', 'blocked' or 'ivf'"
        )
    va = norm.select(F.col("id").alias("id_a"), F.col("v").alias("__va"))
    vb = norm.select(F.col("id").alias("id_b"), F.col("v").alias("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_expr(F.col("__va"), F.col("__vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def duplicate_clusters(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """[doc_id, cluster, is_canonical]: near-duplicate CLUSTERS — connected
    components over the n-gram-Jaccard pair graph, labelled with the
    component's minimum doc_id (the canonical survivor; everything else in
    the cluster is droppable). The graph+pipeline composition a dedup pass
    actually ships: pairwise similarity alone over-deletes (A~B, B~C but
    A!~C still belongs to one cluster — transitivity must come from
    components, not pairs).

    Scale design: the pair graph is tiny relative to the corpus (only
    near-dup edges), and the randomized-contraction WCC collapses it in
    O(log n) rounds with a single-task union-find finisher under the
    configured edge dial — corpus-sized data never enters the iteration;
    only candidate pairs do. ``max_doc_freq`` defaults ON (same cap as
    ``ngram_jaccard_pairs``): the Jaccard threshold filters pairs only
    AFTER candidate generation, so an uncapped stop-shingle posting list
    still concentrates |df|^2 candidate pairs in one task before any
    threshold applies. Pass ``None`` only when the corpus is known to be
    free of ultra-common shingles (e.g. small curated sets)."""
    from graphframes_rs_spark.graphframe import GraphFrame

    pairs = ngram_jaccard_pairs(
        docs, text_col=text_col, n=n, threshold=threshold, max_doc_freq=max_doc_freq
    )
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    vertices = docs.select(F.col("doc_id").alias("id"))
    builder = GraphFrame(vertices, edges).connected_components()
    if checkpoint_dir is not None:
        builder = builder.set_checkpoint_dir(checkpoint_dir)
    comp = builder.run()
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def dedup_keep_best(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """[doc_id, cluster, quality, survivor, keep] — near-dup clusters with
    the representative chosen by QUALITY instead of by id: per cluster
    keep the highest :func:`~graphframes_rs_spark.pipeline.text.quality_score`
    document (ties broken toward the lowest doc_id, so the choice is
    total and deterministic). This is the form a curation pass actually
    wants — :func:`duplicate_clusters`' min-id canonical throws away the
    best-written copy whenever it doesn't happen to carry the smallest id
    (C4/Gopher-style pipelines keep the highest-quality duplicate).

    Scale design: clustering cost is :func:`duplicate_clusters` (only
    near-dup pairs enter the WCC); on top of it this adds one corpus-size
    equi-join (cluster labels x scores, on doc_id), one combine-enabled
    ``max_by`` per cluster (argmax rides a struct ordering — no window,
    no per-cluster sort), and one join of the |clusters|-sized survivor
    frame back on the cluster key. Nothing quadratic, nothing driver-side.
    """
    from graphframes_rs_spark.pipeline.text import quality_score

    clusters = duplicate_clusters(
        docs,
        text_col=text_col,
        n=n,
        threshold=threshold,
        max_doc_freq=max_doc_freq,
        checkpoint_dir=checkpoint_dir,
    ).select("doc_id", "cluster")
    scored = docs.select(
        F.col("doc_id"), quality_score(F.col(text_col)).alias("quality")
    )
    labeled = clusters.join(scored, "doc_id")
    # argmax(quality, then min doc_id) as a plain aggregate: max_by over
    # the (quality, -doc_id) struct ordering — partial-aggregatable, so
    # a giant cluster never concentrates a sort in one task
    best = labeled.groupBy("cluster").agg(
        F.max_by(
            F.col("doc_id"),
            F.struct(
                F.col("quality").alias("q"),
                (-F.col("doc_id")).alias("tie"),
            ),
        ).alias("survivor")
    )
    return labeled.join(best, "cluster").select(
        "doc_id",
        "cluster",
        "quality",
        "survivor",
        (F.col("doc_id") == F.col("survivor")).alias("keep"),
    )


def semantic_dedup_clusters(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_blocks: int = 16,
    checkpoint_dir: str | None = None,
    method: str = "auto",
    nlist: int | str = "auto",
    nprobe: int = 4,
) -> DataFrame:
    """[vec_id, cluster, is_canonical]: SEMANTIC duplicate clusters — the
    embedding-space twin of :func:`duplicate_clusters` (SemDeDup-style:
    Abbas et al. 2023 deduplicate by embedding proximity, not text
    overlap, catching paraphrases and re-encodings that share no
    shingles). Connected components over the cosine near-dup pair graph
    (:func:`embedding_near_duplicates`), labelled with each component's
    minimum member id — the canonical survivor; everything else in the
    cluster is droppable.

    ``method`` passes through to the pair generator: ``"auto"`` (default)
    row-counts once and picks the exact blocked-BLAS sweep below
    ``AUTO_METHOD_ROW_THRESHOLD`` rows or the IVF-cell-bounded path above
    (O(n^1.5·d) at the default nlist="auto" = sqrt(n)) — so the default
    plan is scale-safe at corpus size; clusters are then approximate
    exactly as far as the candidate recall is (pairs themselves stay
    exact-rescored either way). ``"blocked"``/``"ivf"`` force a
    generator and skip the count.

    Scale design: identical to ``duplicate_clusters`` — only near-dup
    PAIRS (tiny relative to the corpus) enter the WCC iteration, never the
    embeddings themselves; transitivity comes from components, not pairs,
    so chains A~B~C collapse into one cluster even when cos(A, C) is
    below the threshold."""
    from graphframes_rs_spark.graphframe import GraphFrame

    pairs = embedding_near_duplicates(
        embeddings,
        vec_col=vec_col,
        id_col=id_col,
        threshold=threshold,
        n_blocks=n_blocks,
        method=method,
        nlist=nlist,
        nprobe=nprobe,
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    vertices = embeddings.select(F.col(id_col).alias("id"))
    builder = GraphFrame(vertices, edges).connected_components()
    if checkpoint_dir is not None:
        builder = builder.set_checkpoint_dir(checkpoint_dir)
    comp = builder.run()
    return comp.select(
        F.col("id").alias("vec_id"),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def duplicated_ngram_coverage(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    materialize: bool = False,
) -> DataFrame:
    """[doc_id, n_tokens, n_grams, dup_grams, dup_tokens, dup_gram_frac,
    dup_token_frac]: how much of each document is covered by word n-grams
    that also occur in at least ``min_docs - 1`` OTHER documents — the
    per-document "duplicated text" estimate behind exact-substring
    deduplication (Lee et al. 2022, arXiv:2107.06499): a high
    ``dup_token_frac`` marks boilerplate/mirror content even when no whole
    document is a near-duplicate. ``dup_tokens`` is the size of the UNION
    of the duplicated grams' token spans (overlapping grams don't double
    count), so ``dup_token_frac`` is a true coverage fraction.

    Scale design: positional grams are hashed to 64 bits immediately
    (``xxhash64``) so nothing wider than 16 bytes per gram ever shuffles.
    Three shuffles total, all on the gram hash or doc_id with map-side
    combine: (doc, gram)-distinct -> per-gram doc frequency, the
    dup-gram semi join, and the per-doc aggregates. Unlike the pair
    operators there is NO candidate-pair stage, so ultra-common grams
    cost a skewed groupBy count (AQE-splittable), never a |df|^2 pair
    explosion — no ``max_doc_freq`` cap is needed. Docs shorter than
    ``n`` tokens contribute zero grams and report zero fractions.

    ``materialize`` (default False) can pin the positional-gram stream
    with an eager ``localCheckpoint`` — it has THREE consumers (the
    doc-frequency aggregate, the dup semi join's probe side, and the
    per-doc gram count), so lazily the tokenize+hash generation pass
    executes once per consumer in one action. Default OFF, unlike
    exact_substr_spans: measured r15 (interleaved A/B, quiet box), the
    word-gram generation is a cheap narrow codegen map while the pin
    serializes the full gram stream (~2x input size) to executor
    storage — pinned 4.9-5.8s vs lazy 0.41-0.48s at the 200k-doc tier,
    1.1-1.3s vs 0.25-0.28s at 5k docs. The pin pays only when the
    generation pass is expensive relative to its output (the rolling-
    hash Python pass in exact_substr; the post-aggregate tf in tfidf),
    which word grams are not."""
    toks = F.split(F.col(text_col), " ")
    base = docs.select("doc_id", toks.alias("__t"))
    # full-width grams only; sequence() must not see start > stop (it
    # would count DOWN), hence the explicit short-doc guard
    positions = F.when(
        F.size("__t") >= n, F.sequence(F.lit(1), F.size("__t") - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                positions,
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("__t", i, n))),
            )
        ).alias("__p0", "gram"),
    ).select("doc_id", (F.col("__p0") + 1).alias("pos"), "gram")
    if materialize:
        # eager, not lazy/persist: the consumer branches are a join's
        # independent children and would race a lazy cache, each
        # computing the generation pass anyway (same rationale as
        # exact_substr_spans)
        grams = grams.localCheckpoint()

    doc_freq = (
        grams.select("gram", "doc_id")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__dfreq"))
    )
    dup = grams.join(
        doc_freq.where(F.col("__dfreq") >= min_docs).select("gram"), "gram"
    )
    if materialize:
        # `dup` also has two consumers (token-coverage explode + per-doc
        # dup-gram count); unpinned, the doc-frequency aggregate and the
        # semi join execute once per consumer (the keep_first shape the
        # r14 pass measured at 4x freq in one plan)
        dup = dup.localCheckpoint()
    cov = dup.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("tok"),
    ).distinct()

    per_gram = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    per_dup = dup.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dup_grams"))
    per_cov = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dup_tokens"))
    return (
        docs.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
        .join(per_gram, "doc_id", "left")
        .join(per_dup, "doc_id", "left")
        .join(per_cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        )
        .withColumn(
            "dup_gram_frac",
            F.round(
                F.when(
                    F.col("n_grams") > 0, F.col("dup_grams") / F.col("n_grams")
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumn(
            "dup_token_frac",
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.col("dup_tokens") / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )


def strip_duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    materialize: bool = False,
) -> DataFrame:
    """[doc_id, n_tokens, n_kept, text_clean]: the REWRITE half of
    exact-substring deduplication (Lee et al. 2022, arXiv:2107.06499):
    every token covered by a word ``n``-gram that also occurs in at least
    ``min_docs - 1`` OTHER documents is removed, and the survivors are
    re-joined in original order. ``duplicated_ngram_coverage`` measures
    the damage; this operator applies the cut — the pair every
    training-data pipeline runs before tokenization (boilerplate,
    licence headers and mirrored passages vanish corpus-wide without
    dropping whole documents).

    Scale design: identical shuffle profile to the coverage operator —
    grams are 64-bit hashes (16 bytes/row max in flight), the dup-gram
    set is derived by one map-side-combined doc-frequency aggregate and
    one semi join, and covered positions explode at most ``n`` rows per
    duplicated gram. Reassembly groups each document's surviving tokens
    with ``sort_array(collect_list(struct(pos, tok)))`` — per-doc cost
    bounded by document length (the same per-key bound the chunking and
    packing operators document), never corpus-global. One extra shuffle
    vs the coverage op (the per-doc rebuild), all JVM expressions.

    Removal is POSITION-exact: a token is dropped only where it sits
    inside a duplicated span, so a phrase surviving in one document may
    be stripped from another (cross-doc frequency decides, per Lee's
    dedup-once policy there is no "keep one canonical copy" carve-out —
    compose with ``dedup_keep_best`` for survivor selection). Docs
    shorter than ``n`` tokens pass through untouched.

    ``materialize`` (default False) can pin the positional-gram stream
    with an eager ``localCheckpoint`` — two consumers (doc-frequency
    aggregate + dup semi join probe side) otherwise execute the
    tokenize+hash generation pass once each. Default OFF: see
    duplicated_ngram_coverage's docstring for the r15 measurement
    (pinning the cheap narrow gram map costs 4-10x the recompute at
    every tier tested)."""
    toks = F.split(F.col(text_col), " ")
    base = docs.select("doc_id", toks.alias("__t"))
    positions = F.when(
        F.size("__t") >= n, F.sequence(F.lit(1), F.size("__t") - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                positions,
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("__t", i, n))),
            )
        ).alias("__p0", "gram"),
    ).select("doc_id", (F.col("__p0") + 1).alias("pos"), "gram")
    if materialize:
        # eager pin, same rationale as duplicated_ngram_coverage: the
        # frequency aggregate and the dup join probe are a join's
        # independent children
        grams = grams.localCheckpoint()
    doc_freq = (
        grams.select("gram", "doc_id")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__dfreq"))
    )
    dup = grams.join(
        doc_freq.where(F.col("__dfreq") >= min_docs).select("gram"), "gram"
    )
    cov = dup.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("tok_pos"),
    ).distinct()

    tok_rows = base.select(
        "doc_id",
        F.posexplode("__t").alias("__p0", "tok"),
    ).select("doc_id", (F.col("__p0") + 1).alias("tok_pos"), "tok")
    kept = tok_rows.join(cov, ["doc_id", "tok_pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("tok_pos"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ),
        ).alias("text_clean"),
    )
    return (
        docs.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def _rolling_gram_rows(text_col: str, L: int):
    """mapInPandas generator factory: (doc_id, pos, gram) rows where gram
    is a 64-bit polynomial rolling hash of the L chars starting at pos
    (1-based), computed in O(|doc|) per document — the Rabin-Karp
    formulation of a suffix scan. Char-exact (UTF-32 code units, so
    positions agree with the JVM substring hasher on any input, not just
    ASCII). All arithmetic is uint64 wraparound, i.e. mod 2^64; the base
    is odd so it is invertible mod 2^64 and the prefix-sum trick below is
    exact:
        h(i) = sum_k c[i+k] * B^(L-1-k)
             = B^(L-1+i) * (S(i+L) - S(i)),  S(j) = sum_{t<j} c[t] * B^-t
    which vectorizes to two cumulative passes — no per-position Python."""
    import numpy as np
    import pandas as pd

    B = np.uint64(0x100000001B3)  # FNV prime, odd => invertible mod 2^64
    BINV = np.uint64(pow(0x100000001B3, -1, 1 << 64))

    def gen(batches):
        with np.errstate(over="ignore"):
            for pdf in batches:
                out_ids, out_pos, out_h = [], [], []
                for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                    if text is None:
                        continue
                    c = np.frombuffer(
                        text.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.uint64)
                    n = len(c)
                    if n < L:
                        continue
                    m = n - L + 1
                    # binv_pows[j] = B^-j ; S[j] = sum_{t<j} c[t] B^-t
                    binv_pows = np.empty(n + 1, dtype=np.uint64)
                    binv_pows[0] = np.uint64(1)
                    np.multiply.accumulate(
                        np.full(n, BINV, dtype=np.uint64), out=binv_pows[1:]
                    )
                    S = np.zeros(n + 1, dtype=np.uint64)
                    np.add.accumulate(c * binv_pows[:n], out=S[1:])
                    # b_pows[i] = B^(L-1+i) for i in [0, m)
                    b_pows = np.full(m, B, dtype=np.uint64)
                    b_pows[0] = np.uint64(pow(0x100000001B3, L - 1, 1 << 64))
                    np.multiply.accumulate(b_pows, out=b_pows)
                    h = b_pows * (S[L : n + 1] - S[:m])
                    out_ids.append(np.full(m, doc_id, dtype=np.int64))
                    out_pos.append(np.arange(1, m + 1, dtype=np.int64))
                    out_h.append(h.astype(np.int64))
                if out_ids:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(out_ids),
                            "pos": np.concatenate(out_pos),
                            "gram": np.concatenate(out_h),
                        }
                    )

    return gen


def _merge_covered_spans(dup_positions: DataFrame, L: int) -> DataFrame:
    """[doc_id, span_start, span_end): maximal merged intervals of the
    length-L windows starting at ``dup_positions.pos`` (1-based). Classic
    gaps-and-islands over a per-doc window — every window interval has
    the same length, so the running max of interval ends is just the
    previous start + L and one lag() suffices. The window partitions by
    doc_id: per-key work is bounded by document length, never
    corpus-global (same per-doc bound every text operator here relies
    on)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        dup_positions.withColumn(
            "__brk",
            F.when(F.col("pos") > F.lag("pos").over(w) + L, 1).otherwise(0),
        )
        .withColumn("__isl", F.sum("__brk").over(cum))
        .groupBy("doc_id", "__isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + L).cast("long").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def _position_grams(
    docs: DataFrame, text_col: str, L: int, hasher: str
) -> DataFrame:
    """[doc_id, pos, gram]: one 64-bit hash per length-L char window
    (1-based start), via the JVM substring hasher or the O(n) rolling
    scan — the shared front end of every exact-substring operator."""
    if L < 2:
        raise ValueError("min_len must be >= 2")
    if hasher not in ("gram", "rolling"):
        raise ValueError(f"unknown hasher {hasher!r}: use 'gram' or 'rolling'")
    if hasher == "rolling":
        return docs.select("doc_id", text_col).mapInPandas(
            _rolling_gram_rows(text_col, L),
            schema="doc_id long, pos long, gram long",
        )
    n_chars = F.length(F.col(text_col))
    starts = F.when(
        n_chars >= L, F.sequence(F.lit(1), n_chars - L + 1)
    ).otherwise(F.array().cast("array<int>"))
    return docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.xxhash64(F.col(text_col).substr(i, F.lit(L))),
            )
        ).alias("__p0", "gram"),
    ).select("doc_id", (F.col("__p0") + 1).cast("long").alias("pos"), "gram")


def _subtract_protected_spans(marked: DataFrame, L: int) -> DataFrame:
    """[doc_id, span_start, span_end): maximal merged intervals of
    UNPROTECTED coverage minus PROTECTED coverage, from ``marked`` =
    [doc_id, pos, __isp] rows each denoting a length-L window (``__isp``
    1 = protected). Classic event sweep per doc: window endpoints become
    +-1 events for two running counters; a [c, next_c) segment is
    reported iff unprotected coverage is active and protected coverage is
    not; adjacent segments merge. One (doc_id, coord) aggregate + two
    per-doc windows — the same per-doc-bounded shuffle class as
    :func:`_merge_covered_spans`.

    Both endpoint events come from ONE pass over ``marked`` via
    explode(array(start_event, end_event)) — the earlier unionAll of two
    selects made ``marked`` a two-consumer subtree, so its whole upstream
    (the dup join and, inside it, the gram-frequency aggregate) executed
    once per branch in the same action (guide §2.4; plan-verified r14 —
    see OPTIMIZATION_r14.md for the 4x-freq executed plan and the
    interleaved A/B)."""
    from pyspark.sql.window import Window

    up = (F.lit(1) - F.col("__isp")).cast("int")
    dp = F.col("__isp").cast("int")
    ev = marked.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("pos").alias("c"), up.alias("du"), dp.alias("dp")
                ),
                F.struct(
                    (F.col("pos") + L).alias("c"),
                    (-up).alias("du"),
                    (-dp).alias("dp"),
                ),
            )
        ).alias("__e"),
    ).select("doc_id", "__e.c", "__e.du", "__e.dp")
    ag = ev.groupBy("doc_id", "c").agg(
        F.sum("du").alias("du"), F.sum("dp").alias("dp")
    )
    w = Window.partitionBy("doc_id").orderBy("c")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    sw = ag.select(
        "doc_id",
        "c",
        F.sum("du").over(cum).alias("u"),
        F.sum("dp").over(cum).alias("p"),
        F.lead("c").over(w).alias("nc"),
    )
    seg = sw.filter(
        (F.col("u") > 0)
        & (F.col("p") == 0)
        & F.col("nc").isNotNull()
        & (F.col("nc") > F.col("c"))
    ).select("doc_id", F.col("c").alias("s"), F.col("nc").alias("e"))
    w2 = Window.partitionBy("doc_id").orderBy("s")
    cum2 = w2.rowsBetween(Window.unboundedPreceding, 0)
    return (
        seg.withColumn(
            "__brk",
            F.when(F.col("s") > F.lag("e").over(w2), 1).otherwise(0),
        )
        .withColumn("__isl", F.sum("__brk").over(cum2))
        .groupBy("doc_id", "__isl")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            F.max("e").cast("long").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def exact_substr_spans(
    docs: DataFrame,
    text_col: str = "text",
    min_len: int = 50,
    min_count: int = 2,
    count_docs: bool = False,
    hasher: str = "gram",
    keep_first: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """[doc_id, span_start, span_end): maximal character spans covered by
    a VERBATIM substring of length >= ``min_len`` occurring at least
    ``min_count`` times corpus-wide — TRUE exact-substring duplicate-span
    detection (Lee et al. 2022, arXiv:2107.06499 "ExactSubstr"), the
    precise counterpart of :func:`duplicated_ngram_coverage`'s estimate.

    ``keep_first=True`` switches to the remove-all-BUT-ONE policy most
    production pipelines want: per duplicated window content, the
    occurrence with the smallest (doc_id, pos) is PROTECTED, and a char
    is reported only when covered by some non-canonical occurrence AND
    by no protected one — so every protected occurrence's characters
    survive verbatim, i.e. at least one full copy of every duplicated
    window content provably survives corpus-wide (a plain
    drop-the-first-occurrence-from-the-removal-set rule would NOT give
    this: neighboring unprotected windows' merged span can swallow a
    protected occurrence's chars — see ``_subtract_protected_spans``).
    Default False = Lee's released-tool behavior (every occurrence cut).
    Cost: one extra combine-enabled ``min(struct(doc_id, pos))``
    aggregate per gram + the per-doc event sweep — same shuffle classes
    as the count and the island merge (``count_docs=True`` composes:
    frequency is by docs, protection is still the global first
    occurrence). Inside a periodic string ("ababab…"), windows past the
    first period duplicate the leading windows, so roughly the leading
    period + one window survives — self-repetition deduplicates against
    the string's own head, the all-but-one-copy contract applied
    honestly.
    Offsets are 1-based chars, end-exclusive.

    EXACTNESS (why this equals a suffix-array scan without building one):
    Lee et al. find duplicated spans with a suffix array over the
    concatenated corpus. This operator instead counts every position's
    length-``min_len`` window ("L-gram"). The two are equivalent by a
    window lemma: (<=) any duplicated substring s with |s| >= L occurs
    twice, hence every L-window inside s occurs >= 2 times, and every
    char of s lies in such a window (clamp the window to s's bounds);
    (>=) a duplicated L-window IS a duplicated substring of length
    exactly L. So the union of [i, i+L) over duplicated-window starts i
    equals the union of all duplicated substrings of length >= L —
    char-for-char what the suffix-array tool reports at threshold L.
    Windows are compared by 64-bit hash, the one approximation left. For
    the default ``hasher="gram"`` (xxhash64) a collision marks a span
    spuriously with probability ~(positions^2)/2^65 — even at 10^12
    corpus positions that is ~a handful of 50-char spans corpus-wide,
    each wrong by <= L chars, negligible against the data. The
    ``hasher="rolling"`` polynomial uses a FIXED public base mod 2^64, so
    the random-collision bound does NOT apply adversarially: inputs
    crafted so the difference polynomial vanishes at the base (or
    pathological low-entropy binary patterns) collide deterministically.
    For hostile or binary-ish corpora keep the default hasher.

    CONTRAST with the positional-n-gram pair (duplicated_ngram_coverage /
    strip_duplicated_spans): those operate on WORD n-grams with per-gram
    DOC frequency — token-granular spans, same-document repeats invisible
    (a doc repeating its own boilerplate twice contributes doc_freq 1),
    and a span boundary can only sit between words. This operator is
    char-granular, counts OCCURRENCES by default (``count_docs=False``;
    a same-doc verbatim repeat of >= min_len chars IS a duplicate — Lee's
    semantics), and marks partial-word overlaps the word grams miss
    ("…dog. The quick…" vs "…dog, the quick…" shares a 40-char suffix
    run). Pass ``count_docs=True`` for the cross-document-only policy.

    SCALE SHAPE: never a global sort of all suffixes (the thing that
    makes naive distributed suffix arrays a 100-TB non-starter — a
    corpus-wide sort of |corpus| variable-length keys). Three keyed
    shuffles, all map-side combinable: the per-hash occurrence count
    (skewed hot grams are a splittable AQE aggregate, never a pair
    explosion), the dup-position semi join, and the per-doc island merge
    (window partitioned by doc_id — per-key work bounded by doc length).
    ``hasher="gram"`` (default) hashes each window JVM-side
    (xxhash64(substr)) inside whole-stage codegen — O(n*L) char reads
    but zero Python and nothing wider than 16 bytes ever shuffles.
    ``hasher="rolling"`` computes the same positions with an O(n)
    numpy polynomial rolling hash over Arrow batches (mapInPandas) —
    the Rabin-Karp suffix scan — for large ``min_len`` where the L-fold
    read amplification dominates; both hashers produce identical spans
    (hash family differs, detection is per-position either way).
    Measured on a 200k-doc/~250-char corpus (local[32], warm): L=60 gram
    10.5s vs rolling 6.7s (~1.6x) in the r12 session; an r13 interleaved
    re-measure on a calib-quiet box put them statistically EQUAL at L=60
    (gram 5.95-6.66s vs rolling 5.21-7.33s alternating in one session) —
    at ~250-char docs the shuffle dominates and the L-fold read
    amplification is in the noise. At 5x the corpus (1M docs, quiet box)
    rolling wins clearly: 48s vs gram 118s — the read amplification
    surfaces once the count aggregate spills past cache. Net guidance:
    either hasher below ~10^5 docs; rolling for large corpora or
    L ≳ 100 on trusted input (see the collision caveat above for
    hostile input).
    ``materialize`` (default True) pins the position-gram stream with an
    eager ``localCheckpoint`` before the frequency/duplicate branches
    consume it. The stream has TWO consumers — the per-gram occurrence
    count and the dup-position join — and without pinning BOTH execute
    the generation pass from scratch (plan-verified r14: 2 MapInPandas
    nodes for ``hasher="rolling"``, 2 Generate+xxhash64 subtrees for
    ``hasher="gram"`` — the heaviest stage of the operator paid twice;
    guide §2.4/§5: two ops keyed off the same expensive subtree should
    share one materialization). Same three-mode contract as
    ``dsir_weights``: True = eager localCheckpoint (fastest; executor
    storage only — lost blocks unrecoverable, fine locally and on healthy
    clusters); False = pure lazy plan (the generation pass runs once per
    consumer — for callers who only explain() or who checkpoint
    upstream). Measured on the 1M-doc bench tier (rolling, L=60):
    see OPTIMIZATION_r14.md.
    Under ``keep_first=True`` the flag additionally pins the dup-position
    stream, which that branch consumes twice (canonical-occurrence
    aggregate + marked join) — without the pin the freq aggregate and dup
    join execute once per consumer (see the branch comment; interleaved
    A/B: 11.7 -> 9.4s quiet mins at the 200k tier).
    """
    L = min_len
    grams = _position_grams(docs, text_col, L, hasher)
    if materialize:
        # eager, not lazy/persist: the two consumer branches' map stages
        # are independent (a join's children), so a lazy cache lets them
        # race and BOTH compute the generation pass anyway
        grams = grams.localCheckpoint()

    if count_docs:
        freq = (
            grams.select("gram", "doc_id")
            .distinct()
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__occ"))
        )
    else:
        freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__occ"))
    dup = grams.join(
        freq.where(F.col("__occ") >= min_count).select("gram"), "gram"
    )
    if keep_first:
        if materialize:
            # `dup` has two consumers in this branch (the canonical-
            # occurrence aggregate and the marked join's probe side), so
            # without a pin the freq aggregate + dup join execute once
            # per consumer — 4x freq in the executed plan before the
            # sweep's explode fix, 2x after (guide §2.4). Interleaved
            # A/B at the 200k bench tier (quiet mins): unpinned 11.7s,
            # explode-only 10.0s, pinned 9.4s — OPTIMIZATION_r14.md.
            dup = dup.localCheckpoint()
        # canonical occurrence per duplicated window content: the min
        # (doc_id, pos) — combine-enabled struct-min. A char is reported
        # iff covered by some NON-canonical dup window AND NOT covered by
        # any canonical one (the sweep below): plain anti-join removal
        # would let neighboring unprotected windows' merged span swallow
        # a protected occurrence's chars, so the duplicated content could
        # survive NOWHERE (confirmed repro in the r12 review) — the
        # subtraction makes "one copy survives" a real guarantee.
        first = (
            dup.groupBy("gram")
            .agg(F.min(F.struct("doc_id", "pos")).alias("__f"))
            .select(
                "gram",
                F.col("__f.doc_id").alias("doc_id"),
                F.col("__f.pos").alias("pos"),
                F.lit(1).alias("__isp"),
            )
        )
        marked = (
            dup.join(first, ["gram", "doc_id", "pos"], "left")
            .select(
                "doc_id", "pos", F.coalesce("__isp", F.lit(0)).alias("__isp")
            )
        )
        return _subtract_protected_spans(marked, L)
    return _merge_covered_spans(dup.select("doc_id", "pos"), L)


def exact_substr_strip(
    docs: DataFrame,
    text_col: str = "text",
    min_len: int = 50,
    min_count: int = 2,
    count_docs: bool = False,
    hasher: str = "gram",
    keep_first: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """[doc_id, n_chars, n_kept, text_clean]: the REWRITE half of true
    exact-substring dedup — every character inside a
    :func:`exact_substr_spans` span is removed from EVERY occurrence
    (Lee et al.'s released tool does the same: no keep-one-canonical
    carve-out by default; ``keep_first=True`` protects the first
    occurrence of each duplicated window so one canonical copy survives
    corpus-wide — or compose with :func:`dedup_keep_best` for
    quality-based survivor selection), and the surviving segments are
    re-joined in order.
    Char-exact counterpart of :func:`strip_duplicated_spans` (which cuts
    word-gram spans at word boundaries and never sees same-doc repeats —
    see the exact_substr_spans docstring for the full contrast).

    The rebuild is one JVM-side fold: spans arrive per doc as a sorted
    array (bounded by doc length) and ``F.aggregate`` walks them once,
    concatenating the gap substrings — no Python, no second explode."""
    spans = exact_substr_spans(
        docs,
        text_col=text_col,
        min_len=min_len,
        min_count=min_count,
        count_docs=count_docs,
        hasher=hasher,
        keep_first=keep_first,
        materialize=materialize,
    )
    return _rebuild_without_spans(docs, spans, text_col)


def _rebuild_without_spans(
    docs: DataFrame, spans: DataFrame, text_col: str
) -> DataFrame:
    """[doc_id, n_chars, n_kept, text_clean]: remove the given char spans
    ([doc_id, span_start, span_end), disjoint and sorted-mergeable) from
    each document and re-join the surviving segments in order. One
    JVM-side fold: spans arrive per doc as a sorted array (bounded by doc
    length) and ``F.aggregate`` walks them once, concatenating the gap
    substrings — no Python, no second explode. Shared by
    :func:`exact_substr_strip` and
    :func:`exact_substr_strip_against_index`."""
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans")
    )
    n_chars = F.length(F.col(text_col))
    # fold: acc = (cursor, text-so-far); each span appends [cursor, start)
    # and advances the cursor past the span; finish appends the tail
    rebuilt = F.aggregate(
        F.col("__spans"),
        F.struct(
            F.lit(1).cast("long").alias("cur"), F.lit("").alias("acc")
        ),
        lambda acc, s: F.struct(
            s["span_end"].alias("cur"),
            F.concat(
                acc["acc"],
                F.col(text_col).substr(
                    acc["cur"], s["span_start"] - acc["cur"]
                ),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            F.col(text_col).substr(
                acc["cur"], n_chars - acc["cur"] + 1
            ),
        ),
    )
    return (
        docs.select("doc_id", text_col)
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_chars.cast("long").alias("n_chars"),
            F.when(F.col("__spans").isNull(), F.col(text_col))
            .otherwise(rebuilt)
            .alias("text_clean"),
        )
        .withColumn("n_kept", F.length("text_clean").cast("long"))
        .select("doc_id", "n_chars", "n_kept", "text_clean")
    )


class ExactSubstrIndex:
    """A corpus's distinct window hashes + the (min_len, hasher)
    provenance they were built with — a silent param mismatch at query
    time would return zero spans (different hash families never match),
    so the query functions validate against these instead (the same
    provenance discipline as :class:`similarity.IVFIndex`)."""

    def __init__(self, grams: DataFrame, min_len: int, hasher: str):
        self.grams = grams
        self.min_len = min_len
        self.hasher = hasher

    def _subpath(self):
        return f"/substr_index_L{self.min_len}_{self.hasher}"


def exact_substr_index(
    docs: DataFrame,
    text_col: str = "text",
    min_len: int = 50,
    hasher: str = "gram",
    checkpoint_dir: str | None = None,
) -> "ExactSubstrIndex":
    """The DISTINCT length-``min_len`` window hashes of an accepted
    corpus, wrapped with their build provenance — the exact-substring
    counterpart of the MinHash signature table
    (:func:`dedup_against_index`) and the :class:`similarity.IVFIndex`
    (embedding space): build it once over the corpus, reuse it against
    every ingestion batch with :func:`exact_substr_spans_against_index`.
    One distinct() shuffle on the 8-byte hash; ``checkpoint_dir``
    materializes it as parquet (path namespaced by min_len/hasher so two
    indexes can share a dir; reload with :func:`exact_substr_index_load`)
    so daily batches never rescan the corpus. Size is bounded by corpus
    positions (16 bytes/row in flight, ~#chars rows), and appending a
    day's accepted batch is a union + distinct of the BATCH's grams
    only."""
    idx = ExactSubstrIndex(
        _position_grams(docs, text_col, min_len, hasher)
        .select("gram")
        .distinct(),
        min_len,
        hasher,
    )
    if checkpoint_dir is not None:
        path = checkpoint_dir + idx._subpath()
        idx.grams.write.mode("overwrite").parquet(path)
        idx.grams = docs.sparkSession.read.parquet(path)
    return idx


def exact_substr_index_load(
    spark, checkpoint_dir: str, min_len: int = 50, hasher: str = "gram"
) -> "ExactSubstrIndex":
    """Reload a checkpointed :func:`exact_substr_index`: the
    (min_len, hasher) pair names the parquet subpath, so loading with the
    wrong params fails fast on a missing path instead of silently
    matching nothing."""
    idx = ExactSubstrIndex(None, min_len, hasher)
    idx.grams = spark.read.parquet(checkpoint_dir + idx._subpath())
    return idx


def exact_substr_index_append(
    spark,
    checkpoint_dir: str,
    accepted_docs: DataFrame,
    text_col: str = "text",
    min_len: int = 50,
    hasher: str = "gram",
) -> "ExactSubstrIndex":
    """Grow a checkpointed :func:`exact_substr_index` by ONE accepted
    batch: compute the BATCH's distinct window hashes with the stored
    params and parquet-append them — O(batch) work and bytes, the corpus
    gram files are never rewritten (the docstring's "union + distinct of
    the batch's grams only", now as an API). Appended grams may repeat
    hashes already present (parquet append can't dedup across files);
    that is harmless — the query side is a LEFT SEMI join, for which
    presence is idempotent — and costs only the duplicate bytes, bounded
    by the batch. ``(min_len, hasher)`` name the subpath, so appending
    with the wrong params fails on a missing path instead of silently
    mixing hash families. Single-appender only (plain parquet append)."""
    idx = exact_substr_index_load(
        spark, checkpoint_dir, min_len=min_len, hasher=hasher
    )
    batch = (
        _position_grams(accepted_docs, text_col, min_len, hasher)
        .select("gram")
        .distinct()
    )
    batch.write.mode("append").parquet(checkpoint_dir + idx._subpath())
    return exact_substr_index_load(
        spark, checkpoint_dir, min_len=min_len, hasher=hasher
    )


def exact_substr_spans_against_index(
    new_docs: DataFrame,
    index: "ExactSubstrIndex | DataFrame",
    text_col: str = "text",
    min_len: int | None = None,
    hasher: str | None = None,
) -> DataFrame:
    """[doc_id, span_start, span_end): maximal char spans of NEW
    documents covered by a length->= ``min_len`` substring ALREADY
    PRESENT in an accepted corpus (its :func:`exact_substr_index`) — the
    incremental-ingestion form of :func:`exact_substr_spans`, completing
    the incremental trio (MinHash :func:`dedup_against_index`, embedding
    :func:`embedding_dedup_against_index`, exact-substring here). Only
    new x index: one LEFT SEMI join of the batch's position grams against
    the index hashes (no batch x batch counting — within-batch dedup
    composes via :func:`exact_substr_spans` on the batch alone), then the
    same per-doc island merge. Presence semantics (>= 1 occurrence in the
    corpus), not frequency: anything already accepted is a duplicate by
    definition. With an :class:`ExactSubstrIndex`, ``min_len``/``hasher``
    default to the index's own provenance and a conflicting explicit
    value raises (a silent mismatch would match nothing and wave
    re-crawled duplicates through); a bare gram DataFrame requires both
    explicitly."""
    if isinstance(index, ExactSubstrIndex):
        for name, given, built in (
            ("min_len", min_len, index.min_len),
            ("hasher", hasher, index.hasher),
        ):
            if given is not None and given != built:
                raise ValueError(
                    f"{name}={given!r} conflicts with the index's build "
                    f"provenance ({built!r}) — hash families/positions "
                    f"would silently never match"
                )
        min_len, hasher = index.min_len, index.hasher
        index_grams = index.grams
    else:
        if min_len is None or hasher is None:
            raise ValueError(
                "a bare gram DataFrame carries no provenance: pass "
                "min_len= and hasher= explicitly (or pass the "
                "ExactSubstrIndex exact_substr_index returned)"
            )
        index_grams = index
    grams = _position_grams(new_docs, text_col, min_len, hasher)
    dup = grams.join(index_grams.select("gram"), "gram", "left_semi")
    return _merge_covered_spans(dup.select("doc_id", "pos"), min_len)


def exact_substr_strip_against_index(
    new_docs: DataFrame,
    index: "ExactSubstrIndex | DataFrame",
    text_col: str = "text",
    min_len: int | None = None,
    hasher: str | None = None,
) -> DataFrame:
    """[doc_id, n_chars, n_kept, text_clean]: strip from NEW documents
    every char span already present in the accepted corpus (the
    ingestion-time rewrite: boilerplate and re-crawled passages vanish
    from the batch before it joins the corpus, the corpus itself is
    untouched). Same JVM fold rebuild as :func:`exact_substr_strip`."""
    spans = exact_substr_spans_against_index(
        new_docs, index, text_col=text_col, min_len=min_len, hasher=hasher
    )
    return _rebuild_without_spans(new_docs, spans, text_col)


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_line_chars: int = 1,
) -> DataFrame:
    """[doc_id, text, n_kept, n_dropped] — corpus-global exact line
    deduplication, C4-style (Raffel et al., JMLR'20 §2.2 drop repeated
    three-sentence spans; RefinedWeb/Gopher do it at line granularity):
    every distinct line is kept ONLY in the first document/position it
    appears ((doc_id, position) order); later occurrences are dropped and
    the surviving lines are re-joined in original order. Boilerplate
    (cookie banners, nav text) collapses to one copy corpus-wide. Docs
    whose every line is dropped disappear from the output.

    Lines shorter than ``min_line_chars`` are kept verbatim without
    entering the dedup (blank separators stay put).

    Scale design: first-occurrence is ``min(struct(doc_id, pos))`` per
    line — a combine-enabled aggregation (map-side partial min), NOT a
    ``row_number`` window, so an ultra-hot boilerplate line costs one
    combiner cell per map task instead of a single reducer sorting all
    its occurrences. One shuffle for the min, one equi-join on the line
    back to the exploded stream, one groupBy(doc) to reassemble — all
    keyed shuffles, no driver state."""
    import re as _re

    seg = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("pos", "line"),
    )
    dedupable = seg.filter(F.length("line") >= min_line_chars)
    firsts = dedupable.groupBy("line").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    survivors = (
        dedupable.join(firsts, "line")
        .filter(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos"))
        )
        .select("doc_id", "pos", "line")
        .unionByName(
            seg.filter(F.length("line") < min_line_chars).select(
                "doc_id", "pos", "line"
            )
        )
    )
    totals = seg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n_total"))
    return (
        survivors.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(totals, "doc_id")
        .select(
            "doc_id",
            "text",
            "n_kept",
            (F.col("__n_total") - F.col("n_kept")).alias("n_dropped"),
        )
    )


def edit_distance_pairs(
    docs: DataFrame,
    text_col: str = "text",
    prefix_tokens: int = 5,
    max_distance: int | None = None,
) -> DataFrame:
    """[doc_a, doc_b, edit_distance, similarity] — record-linkage-style
    near-dup detection: PREFIX BLOCKING (docs sharing the md5 of their
    first ``prefix_tokens`` tokens form a candidate block) followed by
    exact Levenshtein on each candidate pair, with
    ``similarity = 1 − d / max(len_a, len_b)``. Catches the
    boilerplate-prefix + small-edit duplicates that exact hashing misses
    and shingle Jaccard dilutes.

    Scale shape: blocking is one groupBy on the prefix hash (candidate
    volume Σ|block|², dialed by ``prefix_tokens`` — longer prefixes →
    smaller blocks); Levenshtein runs JVM-side (whole-stage codegen), no
    Python. The within-block pair list reuses the sorted collect_list
    pattern of the LSH candidate generator."""
    toks = tokens(F.col(text_col))
    blk = F.md5(F.concat_ws(" ", F.slice(toks, 1, prefix_tokens)))
    blocked = docs.select("doc_id", blk.alias("blk"))
    members = (
        blocked.groupBy("blk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = members.select(
        F.posexplode("ds").alias("i", "doc_a"), F.col("ds")
    ).select(
        "doc_a",
        F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("doc_b"),
    )
    t = docs.select("doc_id", F.col(text_col).alias("__t"))
    scored = (
        pairs.join(t.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("__t", "__ta"), "doc_a")
        .join(t.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("__t", "__tb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("__ta", "__tb").alias("edit_distance"),
            F.round(
                1.0
                - F.levenshtein("__ta", "__tb")
                / F.greatest(F.length("__ta"), F.length("__tb")),
                6,
            ).alias("similarity"),
        )
    )
    if max_distance is not None:
        scored = scored.filter(F.col("edit_distance") <= max_distance)
    return scored
