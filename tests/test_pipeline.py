"""Pipeline-operator tests over the driver's synthetic documents /
embeddings tables plus hand-built fixtures."""

import math

import pytest
from pyspark.sql import functions as F

from graphframes_rs_spark.pipeline import curation, dedup, similarity, text
from graphframes_rs_spark.streaming import events as ev

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_analyze_documents(spark, docs):
    out = text.analyze_documents(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    by_id = {r["doc_id"]: r for r in rows}
    sample = docs.filter(F.col("doc_id") == 0).collect()[0]
    expected_tokens = len(sample["text"].split(" "))
    assert by_id[0]["n_tokens"] == expected_tokens
    assert 0.0 <= by_id[0]["quality"] <= 1.0
    assert all(r["fingerprint"] is not None for r in rows)


def test_exact_duplicates_with_planted_dups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "unique")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dedup.exact_duplicates(df).collect()}
    assert out[1]["canonical_id"] == 1 and not out[1]["is_duplicate"]
    assert out[2]["canonical_id"] == 1 and out[2]["is_duplicate"]
    assert out[3]["canonical_id"] == 3 and not out[3]["is_duplicate"]


def test_minhash_lsh_finds_planted_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words with nothing shared at all here now ok"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sigs = dedup.minhash_signatures(df, k=16)
    cands = dedup.minhash_lsh_candidates(sigs, k=16, bands=8)
    pairs = {(r["doc_a"], r["doc_b"]) for r in cands.collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_jaccard_estimate_close_to_exact(spark, docs):
    """MinHash collision fraction ≈ true Jaccard (within coarse bounds,
    k=32)."""
    two = docs.limit(2).collect()
    a_sh = set()
    b_sh = set()
    for row, acc in ((two[0], a_sh), (two[1], b_sh)):
        toks = row["text"].split(" ")
        for i in range(len(toks) - 2):
            acc.add(" ".join(toks[i : i + 3]))
    true_j = len(a_sh & b_sh) / len(a_sh | b_sh)
    df = spark.createDataFrame(
        [(0, two[0]["text"]), (1, two[1]["text"])], "doc_id long, text string"
    )
    sigs = dedup.minhash_signatures(df, k=32).collect()
    s = {r["doc_id"]: [r[f"mh_{i}"] for i in range(32)] for r in sigs}
    est = sum(1 for x, y in zip(s[0], s[1]) if x == y) / 32
    assert abs(est - true_j) < 0.35  # coarse: k=32 has high variance


def test_ngram_jaccard_pairs_threshold(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),
            (3, "z y x w v u t s"),
        ],
        "doc_id long, text string",
    )
    out = dedup.ngram_jaccard_pairs(df, threshold=0.3)
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out.collect()}
    assert (1, 2) in pairs
    # 6 shingles each, 5 common -> jaccard 5/7
    assert abs(pairs[(1, 2)] - 5 / 7) < 1e-6
    assert all(p == (1, 2) for p in pairs)


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "x1 x2 x3 x4")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_embedding_near_duplicates_planted(spark):
    v = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]
    orth = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, v), (2, near), (3, orth)], "vec_id long, embedding array<double>"
    )
    out = dedup.embedding_near_duplicates(df, threshold=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(1, 2)}


def test_embedding_near_duplicates_ivf_planted(spark):
    """The IVF-cell-bounded candidate path finds planted near-dups: a
    near-dup pair is angularly tiny, so both members share (or probe into)
    the same KMeans cell. Planted pairs sit in two well-separated
    directions; recall must be 1.0 on them and precision exact (the
    survivors are re-scored with the exact fold)."""
    rows = []
    for i in range(20):
        rows.append((2 * i, [1.0, 0.001 * i, 0.0, 0.0]))
        rows.append((2 * i + 1, [1.0, 0.001 * i + 1e-4, 0.0, 0.0]))
    for i in range(20):
        rows.append((100 + 2 * i, [0.0, 0.0, 1.0, 0.001 * i]))
        rows.append((101 + 2 * i, [0.0, 0.0, 1.0, 0.001 * i + 1e-4]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = dedup.embedding_near_duplicates(df, threshold=0.999)
    ivf = dedup.embedding_near_duplicates(
        df, threshold=0.999, method="ivf", nlist=4, nprobe=2
    )
    ep = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    ip = {(r["id_a"], r["id_b"]) for r in ivf.collect()}
    assert ep, "fixture must plant at least one near-dup pair"
    assert ip <= ep  # exact rescoring: no false positives, ever
    assert len(ip & ep) >= 0.8 * len(ep)  # the recall gate
    # the planted nearest-neighbour pairs themselves must all be found
    planted = {p for p in ep if p[1] == p[0] + 1}
    assert planted <= ip


def test_ivf_cosine_candidates_sub_blocks_equivalent(spark):
    """sub_blocks only re-partitions a cell's gram work — the candidate
    SET is invariant (same cells, same threshold, same pairs)."""
    from graphframes_rs_spark.pipeline.similarity import ivf_cosine_candidates

    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    a = ivf_cosine_candidates(df, 0.4, nlist=8, nprobe=4, sub_blocks=1)
    b = ivf_cosine_candidates(df, 0.4, nlist=8, nprobe=4, sub_blocks=3)
    pa = {(r["id_a"], r["id_b"]) for r in a.collect()}
    pb = {(r["id_a"], r["id_b"]) for r in b.collect()}
    assert pa == pb
    assert pa  # non-trivial on the sf fixture (59 exact pairs at 0.4)


def test_embedding_near_duplicates_bad_method(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="unknown method"):
        dedup.embedding_near_duplicates(df, method="lsh")


def test_cosine_topk_exact(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk(embeddings, queries, k=5)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    for qid in (0, 1, 2):
        ranked = sorted(
            (r for r in rows if r["query_id"] == qid), key=lambda r: r["rank"]
        )
        assert len(ranked) == 5
        sims = [r["cosine"] for r in ranked]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != qid for r in ranked)


def test_ivfpq_topk_recall_against_bruteforce(spark, embeddings):
    """IVFADC recall@5 with honest pruning dials (nprobe<nlist); seeded
    fits make the number reproducible. Also pins that reported scores
    come from the exact rescore: every returned cosine must equal the
    exact pair cosine."""
    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(embeddings, queries, k=5)
    approx = similarity.ivfpq_topk(
        embeddings, queries, k=5, nlist=16, nprobe=12, m=8, nbits=6, rerank=200
    )
    e = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in approx.collect()}
    recall = len(set(e) & set(a)) / len(e)
    assert recall >= 0.8, f"IVFPQ recall {recall} too low"
    for pair in set(e) & set(a):
        assert a[pair] == e[pair], f"ADC score leaked into output for {pair}"


def test_cosine_topk_scan_equals_expression_path(spark, embeddings):
    """The distributed-base BLAS scan must be BIT-identical to the
    expression path — same ids, same rounded scores, same ranks (the
    exact-fold rescore guarantees it; the margin protects the candidate
    preselection), including when the base is split across many small
    Arrow batches (partial top-k per batch must still cover the global
    winners)."""
    queries = embeddings.filter(F.col("vec_id") < 3)
    expect = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in similarity.cosine_topk(embeddings, queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in similarity.cosine_topk_scan(
            embeddings.repartition(16), queries, k=5
        ).collect()
    }
    assert got == expect


def test_cosine_topk_blas_guards_oversized_base(spark, embeddings):
    """cosine_topk_blas collects the base to the driver; with the
    maxBlasBaseCells conf below the base size it must raise (pointing at
    the scale duals) instead of collecting, and still work when raised."""
    import pytest

    queries = embeddings.filter(F.col("vec_id") < 2)
    spark.conf.set("spark.graphframes.ann.maxBlasBaseCells", "10")
    try:
        with pytest.raises(ValueError, match="cosine_topk_scan"):
            similarity.cosine_topk_blas(embeddings, queries, k=3)
    finally:
        spark.conf.unset("spark.graphframes.ann.maxBlasBaseCells")
    spark.conf.set("spark.graphframes.ann.maxBlasBaseCells", "64M")
    try:
        with pytest.raises(ValueError, match="spark.graphframes.ann.maxBlasBaseCells"):
            similarity.cosine_topk_blas(embeddings, queries, k=3)
    finally:
        spark.conf.unset("spark.graphframes.ann.maxBlasBaseCells")
    assert similarity.cosine_topk_blas(embeddings, queries, k=3).count() > 0


def test_lsh_topk_recall_against_bruteforce(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(embeddings, queries, k=5)
    approx = similarity.lsh_topk(
        embeddings, queries, k=5, planes_per_table=4, tables=8
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall {recall} too low"


def test_ivf_topk_recall_against_bruteforce(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(embeddings, queries, k=5)
    approx = similarity.ivf_topk(embeddings, queries, k=5, nlist=8, nprobe=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall {recall} too low"
    # every reported neighbour is ranked by true cosine within its query
    rows = approx.collect()
    for qid in {r["query_id"] for r in rows}:
        sims = [r["cosine"] for r in sorted(
            (r for r in rows if r["query_id"] == qid), key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)


def test_ivf_index_search_equals_one_shot(spark, embeddings, tmp_path):
    """The split path is the one-shot path: ivf_index + ivf_search at
    equal dials returns exactly ivf_topk's rows; a save/load round-trip
    and a checkpoint_dir-materialized index both preserve them."""
    queries = embeddings.filter(F.col("vec_id") < 10)
    one_shot = sorted(
        map(tuple, similarity.ivf_topk(
            embeddings, queries, k=5, nlist=8, nprobe=3
        ).collect())
    )
    idx = similarity.ivf_index(embeddings, nlist=8)
    split = sorted(
        map(tuple, similarity.ivf_search(
            idx, queries, k=5, nprobe=3
        ).collect())
    )
    assert split == one_shot
    # cross-session reuse: save -> load -> identical search results
    idx.save(str(tmp_path / "ivf"))
    loaded = similarity.ivf_index_load(spark, str(tmp_path / "ivf"))
    reloaded = sorted(
        map(tuple, similarity.ivf_search(
            loaded, queries, k=5, nprobe=3
        ).collect())
    )
    assert reloaded == one_shot
    # materialized-at-build index (lineage cut to parquet): same rows
    ck = similarity.ivf_index(
        embeddings, nlist=8, checkpoint_dir=str(tmp_path / "ck")
    )
    assert sorted(
        map(tuple, similarity.ivf_search(ck, queries, k=5, nprobe=3).collect())
    ) == one_shot


def test_ivf_search_shuffle_join_path(spark, embeddings):
    """broadcast_queries=False (the corpus-scale ingestion path) returns
    byte-identical rows through an ordinary shuffle join — the explicit
    broadcast hint is genuinely absent from the optimized plan, so a big
    batch degrades to exchange instead of blowing the broadcast limit."""
    queries = embeddings.filter(F.col("vec_id") < 10)
    idx = similarity.ivf_index(embeddings, nlist=8)
    bcast = sorted(map(tuple, similarity.ivf_search(
        idx, queries, k=5, nprobe=3
    ).collect()))
    plan_off = similarity.ivf_search(
        idx, queries, k=5, nprobe=3, broadcast_queries=False
    )
    assert sorted(map(tuple, plan_off.collect())) == bcast
    import re as _re
    optimized = plan_off._jdf.queryExecution().optimizedPlan().toString()
    assert not _re.search(r"(?i)broadcast", optimized), (
        "broadcast hint survived broadcast_queries=False"
    )
    # dedup face of the same dial
    new = embeddings.filter(F.col("vec_id") < 5)
    b_on = sorted(map(tuple, dedup.embedding_dedup_against_index(
        new, idx, threshold=0.5
    ).collect()))
    b_off = sorted(map(tuple, dedup.embedding_dedup_against_index(
        new, idx, threshold=0.5, broadcast_batch=False
    ).collect()))
    assert b_on == b_off


def test_ivf_index_load_validates_centers(spark, embeddings, tmp_path):
    """A missing/empty or torn centers table fails fast with a
    descriptive error instead of a bare IndexError (r12 advice)."""
    import pyspark.sql.functions as SF
    idx = similarity.ivf_index(embeddings, nlist=8)
    idx.save(str(tmp_path / "ok"))
    # empty centers: keep schema, drop rows
    spark.read.parquet(str(tmp_path / "ok/centers")).limit(0).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "empty/centers"))
    with pytest.raises(ValueError, match="empty"):
        similarity.ivf_index_load(spark, str(tmp_path / "empty"))
    # torn write: one centroid row missing
    spark.read.parquet(str(tmp_path / "ok/centers")).filter(
        SF.col("list_id") != 3
    ).write.mode("overwrite").parquet(str(tmp_path / "torn/centers"))
    with pytest.raises(ValueError, match="corrupt"):
        similarity.ivf_index_load(spark, str(tmp_path / "torn"))
    # intact dir still loads
    assert similarity.ivf_index_load(spark, str(tmp_path / "ok")).nlist == 8


def test_ivf_cosine_candidates_prebuilt_index(spark, embeddings):
    """index= reuses the prebuilt quantizer: identical candidate pairs to
    the self-fit path at the same dials (same seed => same centroids),
    and the phase trail records a zero-cost fit."""
    from graphframes_rs_spark.pipeline.similarity import (
        ivf_cosine_candidates, ivf_index,
    )
    self_fit = {
        (r["id_a"], r["id_b"])
        for r in ivf_cosine_candidates(
            embeddings, threshold=0.4, nlist=8, nprobe=4
        ).collect()
    }
    idx = ivf_index(embeddings, nlist=8)
    ph = []
    reused = {
        (r["id_a"], r["id_b"])
        for r in ivf_cosine_candidates(
            embeddings, threshold=0.4, nlist=8, nprobe=4,
            index=idx, phase_stats=ph,
        ).collect()
    }
    assert reused == self_fit
    assert ("fit", 0, 0.0) in ph


def test_embedding_dedup_against_index(spark, embeddings):
    """Incremental embedding dedup through a prebuilt IVF index: a new
    batch containing an exact copy of an indexed vector surfaces it at
    cosine 1.0, only new x index pairs are emitted, recall vs the exact
    scan holds on near-dup pairs, and skip_same_id drops shared labels."""
    idx = similarity.ivf_index(embeddings, nlist=8)
    # new batch: vec_id 0's exact vector under a fresh id + one re-crawl
    # (same id 1, same vector)
    src = {r["vec_id"]: r["embedding"]
           for r in embeddings.filter(F.col("vec_id") < 2).collect()}
    new = spark.createDataFrame(
        [(900001, src[0]), (1, src[1])],
        "vec_id long, embedding array<float>",
    )
    out = dedup.embedding_dedup_against_index(new, idx, threshold=0.99)
    rows = {(r["new_id"], r["index_id"]): r["cosine"] for r in out.collect()}
    assert rows[(900001, 0)] == 1.0   # exact copy found in the index
    assert rows[(1, 1)] == 1.0        # re-ingestion signal (same id kept)
    assert all(n in (900001, 1) for n, _ in rows)  # never index x index
    skipped = dedup.embedding_dedup_against_index(
        new, idx, threshold=0.99, skip_same_id=True
    )
    srows = {(r["new_id"], r["index_id"]) for r in skipped.collect()}
    assert (1, 1) not in srows and (900001, 0) in srows


def test_lsh_bucket_and_docfreq_caps(spark, docs):
    """The scale dials only ever REMOVE candidate pairs, never invent them."""
    sigs = dedup.minhash_signatures(docs, k=8)
    full = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_candidates(sigs, k=8, bands=4).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_candidates(
            sigs, k=8, bands=4, max_bucket_size=2
        ).collect()
    }
    assert capped <= full

    jfull = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    jcap = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.1, max_doc_freq=3
        ).collect()
    }
    assert jcap <= jfull


def test_degenerate_bucket_bounded_by_default(spark):
    """2k identical docs form one giant LSH bucket / stop-shingle posting
    list; the DEFAULT caps drop it (bounded task time) instead of emitting
    ~2M quadratic pairs, and distinct docs are unaffected."""
    n = 2000
    rows = [(i, "all these documents are exactly the same text") for i in range(n)]
    rows += [(n + 1, "one completely different document body here"),
             (n + 2, "one completely different document body here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = dedup.minhash_signatures(df, k=8)
    pairs = dedup.minhash_lsh_candidates(sigs, k=8, bands=4).collect()
    ids = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    # giant-bucket members dropped; the small duplicate pair survives
    assert (n + 1, n + 2) in {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert not any(i < n for i in ids)

    jpairs = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    jids = {r["doc_a"] for r in jpairs} | {r["doc_b"] for r in jpairs}
    assert (n + 1, n + 2) in {(r["doc_a"], r["doc_b"]) for r in jpairs}
    assert not any(i < n for i in jids)


def test_duplicate_clusters_default_cap_bounds_stop_shingles(spark):
    """duplicate_clusters must inherit the stop-shingle cap BY DEFAULT: the
    Jaccard threshold only filters pairs after candidate generation, so an
    uncapped giant posting list would emit ~n^2 candidates before any
    threshold applies. With the default cap the 2k-identical-doc block is
    dropped from pairing (each member becomes its own singleton cluster)
    while the small legit duplicate pair still clusters together."""
    n = 2000
    rows = [(i, "all these documents are exactly the same text") for i in range(n)]
    rows += [(n + 1, "one completely different document body here"),
             (n + 2, "one completely different document body here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = {r["doc_id"]: (r["cluster"], r["is_canonical"])
           for r in dedup.duplicate_clusters(df, threshold=0.5).collect()}
    assert len(out) == n + 2
    # the legit pair clusters under the min doc_id
    assert out[n + 1] == (n + 1, True)
    assert out[n + 2] == (n + 1, False)
    # giant-block members were never paired: all singleton canonicals
    assert all(out[i] == (i, True) for i in range(n))


def test_simhash_neardups_banded_equals_bruteforce(spark, docs):
    """The banded pigeonhole join must equal the brute-force popcount scan."""
    out = dedup.simhash_near_duplicates(docs, bits=32, max_hamming=4)
    banded = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in out.collect()}

    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, bits=32).collect()}
    ids = sorted(sigs)
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 4
    }
    assert banded == brute
    assert brute, "fixture should contain at least one near-dup pair"


def test_pii_scrub_and_packing(spark):
    df = spark.createDataFrame(
        [
            (0, "contact me at bob@example.com or https://x.io/a?e=a@b.cc now"),
            (1, "no pii here just words"),
            (16, "same shard as zero for shards=16 config"),
        ],
        "doc_id long, text string",
    )
    rep = {r["doc_id"]: r for r in text.pii_scrub_report(df).collect()}
    # the address inside the URL query string belongs to the <URL> token
    assert rep[0]["n_urls"] == 1 and rep[0]["n_emails"] == 2
    assert rep[1]["n_urls"] == 0 and rep[1]["n_emails"] == 0
    import hashlib
    expected = "contact me at <EMAIL> or <URL> now"
    assert rep[0]["clean_hash"] == hashlib.md5(expected.encode()).hexdigest()

    packed = {r["doc_id"]: r for r in text.pack_documents(df, cap_tokens=8).collect()}
    assert packed[0]["shard"] == 0 and packed[16]["shard"] == 0
    assert packed[1]["shard"] == 1
    # doc 0 (10 tokens) opens bin 0; doc 16 starts after 10 tokens -> bin 1
    assert packed[0]["bin"] == 0
    assert packed[16]["bin"] == packed[0]["n_tokens"] // 8


def test_pack_documents_greedy_respects_cap(spark):
    """greedy=True: no multi-document bin exceeds cap_tokens; only a single
    over-long document may. Docs are packed in doc_id order per shard."""
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate([3, 4, 2, 8, 1, 5, 9, 2])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.pack_documents(df, cap_tokens=8, shards=1, greedy=True).collect()
    by_doc = {r["doc_id"]: r["bin"] for r in out}
    # greedy fold over [3,4,2,8,1,5,9,2] with cap 8:
    # 3+4=7 | 2 (7+2>8 -> bin1), 2+_8>8 -> 8 alone bin2 | 1+5=6 bin3 |
    # 9 alone bin4 | 2 bin5
    assert by_doc == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3, 5: 3, 6: 4, 7: 5}
    # invariant on a bigger shard split: every multi-doc bin total <= cap
    df2 = spark.createDataFrame(
        [(i, " ".join(["w"] * (1 + i * 7 % 13))) for i in range(200)],
        "doc_id long, text string",
    )
    out2 = text.pack_documents(df2, cap_tokens=16, shards=4, greedy=True).collect()
    from collections import defaultdict
    totals = defaultdict(list)
    for r in out2:
        totals[(r["shard"], r["bin"])].append(r["n_tokens"])
    for toks in totals.values():
        assert sum(toks) <= 16 or len(toks) == 1


def test_streaming_user_stats_value_and_epoch_cols(spark, tmp_path):
    """value_col is parameterizable and an integral epoch-seconds ts_col is
    used as-is (no datetime64 floor-division)."""
    import os
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, 100, 2.5), (1, 200, 3.5), (2, 300, 7.0)],
        "user_id long, t_epoch long, amount double",
    )
    src = str(tmp_path / "vs_src")
    os.makedirs(src, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = ev.streaming_user_stats(stream, ts_col="t_epoch", value_col="amount")
    q = (
        out.writeStream.format("memory").queryName("vs_epoch")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], r["total_value"], r["last_ts_epoch"])
        for r in spark.sql("select * from vs_epoch").collect()
    }
    assert got == {1: (2, 6.0, 200), 2: (1, 7.0, 300)}


def test_stratified_sample_deterministic_and_consistent(spark):
    from graphframes_rs_spark.pipeline import curation

    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3]) for i in range(3000)],
        "doc_id long, lang string",
    )
    kept = curation.stratified_sample(df, "lang", {"en": 1.0, "de": 0.0}, 0.3)
    rows = kept.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    # fraction 1.0 keeps everything, 0.0 keeps nothing
    assert len(by_lang.get("en", set())) == 1000
    assert "de" not in by_lang
    # default fraction lands near 30% (hash-uniform, 1000 keys)
    assert 200 <= len(by_lang["fr"]) <= 400
    # same seed -> identical sample even after a repartition
    again = curation.stratified_sample(
        df.repartition(7), "lang", {"en": 1.0, "de": 0.0}, 0.3
    ).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in rows}
    # and the filter is a narrow plan: no Exchange
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_decontamination_with_explicit_eval_docs(spark):
    from graphframes_rs_spark.pipeline import curation

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps high"),
         (2, "completely unrelated words here today")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox appears in benchmark")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in
           curation.decontamination_report(train, eval_docs=bench).collect()}
    assert got[1]["contaminated"] and got[1]["n_collisions"] >= 1
    assert not got[2]["contaminated"] and got[2]["n_collisions"] == 0


def test_duplicate_clusters_transitivity(spark, tmp_path):
    """A~B and B~C but A!~C must still land in ONE cluster (components,
    not pairs), with the min doc_id canonical."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    a = base
    b = base + " iota"                      # high overlap with both a and c
    c = "iota " + base.replace("alpha ", "")  # overlaps b strongly, a less
    lone = "nothing in common with any of those documents at all"
    docs = spark.createDataFrame(
        [(10, a), (11, b), (12, c), (13, lone)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dedup.duplicate_clusters(
        docs, threshold=0.3, checkpoint_dir=str(tmp_path / "dc")).collect()}
    assert out[10]["cluster"] == out[11]["cluster"] == out[12]["cluster"] == 10
    assert out[10]["is_canonical"] and not out[11]["is_canonical"]
    assert out[13]["cluster"] == 13 and out[13]["is_canonical"]


def test_dedup_keep_best_survivor_by_quality(spark, tmp_path):
    """The survivor must be the highest-quality cluster member even when
    it is NOT the min doc_id (the case duplicate_clusters' min-id
    canonical gets wrong), ties broken toward the lowest doc_id; the
    per-doc quality column must equal text.quality_score."""
    # doc 21 is the near-dup of 20 but longer/cleaner -> higher quality;
    # both well over the 0.3 jaccard threshold on 3-shingles
    base = (
        "the quick brown fox jumps over the lazy dog and then the fox "
        "rests under a tree while the dog watches the road for a while"
    )
    degraded = base.replace("the ", "th3 ")  # same shingle skeleton mostly
    docs = spark.createDataFrame(
        [(20, degraded), (21, base), (30, "zz qq xx " * 3)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.dedup_keep_best(
        docs, threshold=0.2, checkpoint_dir=str(tmp_path / "kb")).collect()}
    assert len(out) == 3
    assert out[20]["cluster"] == out[21]["cluster"] == 20
    # survivor = 21 (higher quality), NOT the min-id canonical 20
    q = {r["doc_id"]: r["quality"] for r in docs.select(
        "doc_id", text.quality_score(F.col("text")).alias("quality")).collect()}
    assert q[21] > q[20], "fixture must make the non-min-id doc better"
    assert out[20]["survivor"] == 21 and not out[20]["keep"]
    assert out[21]["survivor"] == 21 and out[21]["keep"]
    assert out[21]["quality"] == q[21]
    # singleton survives itself
    assert out[30]["survivor"] == 30 and out[30]["keep"]


def test_decontamination_single_pass_plan(spark):
    """The self-split path must explode the corpus once per side — exactly
    two Generate nodes (train + eval-subset), totals and collisions fused
    into ONE aggregation over a broadcast left join, never separate
    totals/hits subplans that each re-explode the corpus."""
    from graphframes_rs_spark.pipeline import curation

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta common words") for i in range(300)],
        "doc_id long, text string",
    )
    out = curation.decontamination_report(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 2, plan
    assert "BroadcastHashJoin" in plan, plan

    got = {r["doc_id"]: r for r in out.collect()}
    assert 0 not in got                       # eval split excluded from output
    assert len(got) == 297                    # 300 - eval docs 0,100,200
    # every train doc shares "alpha beta gamma" etc. with the eval docs
    assert all(r["contaminated"] for r in got.values())
    # n_shingles: 7 tokens -> 5 distinct 3-gram shingles per doc
    assert got[1]["n_shingles"] == 5
    # only the tok{i}-prefixed first shingle is unique to each doc
    assert got[1]["n_collisions"] == 4


def test_semantic_dedup_clusters_transitivity(spark, tmp_path):
    """Embedding-space twin of duplicate_clusters: cos(A,B) and cos(B,C)
    above threshold but cos(A,C) below must still land in ONE cluster,
    with the min vec_id canonical; a far vector stays its own cluster."""
    import math

    from graphframes_rs_spark.pipeline import dedup

    th = math.radians(16)  # cos 16deg ~ 0.961 > 0.95; cos 32deg ~ 0.848 < 0.95
    rows = [
        (1, [1.0, 0.0]),
        (2, [math.cos(th), math.sin(th)]),
        (3, [math.cos(2 * th), math.sin(2 * th)]),
        (9, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in dedup.semantic_dedup_clusters(
        emb, threshold=0.95, n_blocks=1, checkpoint_dir=str(tmp_path / "ck")
    ).collect()}
    assert got[1]["cluster"] == got[2]["cluster"] == got[3]["cluster"] == 1
    assert got[1]["is_canonical"] and not got[2]["is_canonical"]
    assert got[9]["cluster"] == 9 and got[9]["is_canonical"]


def test_repetition_stats_hand_computed(spark):
    """Hand-computed Gopher repetition ratios + the no-shuffle contract."""
    rows = [
        (1, "a b a b a"),      # bigrams: ab ba ab ba -> top 2/4, dup 4/4
        (2, "w x y z"),        # all bigrams unique -> top 1/3, dup 0
        (3, "solo"),           # no bigrams
        (4, "t t t t"),        # one distinct bigram tt x3 -> top 3/3 dup 3/3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    assert got[1]["n_tokens"] == 5
    assert abs(got[1]["distinct_token_ratio"] - 2 / 5) < 1e-9
    assert abs(got[1]["top_bigram_frac"] - 0.5) < 1e-9
    assert abs(got[1]["dup_bigram_frac"] - 1.0) < 1e-9
    assert abs(got[2]["top_bigram_frac"] - 1 / 3) < 1e-6
    assert got[2]["dup_bigram_frac"] == 0.0
    assert got[3]["n_tokens"] == 1
    assert got[3]["top_bigram_frac"] == 0.0 and got[3]["dup_bigram_frac"] == 0.0
    assert abs(got[4]["distinct_token_ratio"] - 0.25) < 1e-9
    assert got[4]["top_bigram_frac"] == 1.0 and got[4]["dup_bigram_frac"] == 1.0
    # narrow projection: composes with the scan, zero Exchange in the plan
    plan = text.repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_curate_corpus_all_reasons(spark):
    """Planted corpus exercising every verdict reason, in precedence order."""
    from graphframes_rs_spark.pipeline import curation

    good1 = ("the quick brown fox jumps over the lazy dog and then walks "
             "back home with friends for dinner tonight")
    dup_text = ("a calm evening by the river where the children play games "
                "and the elders talk for hours together")
    rows = [
        # eval holdout: entirely disjoint vocabulary from the train docs
        (100, "benchmark eval question alpha beta gamma delta secret answer"),
        (1, good1),                                        # kept
        (3, dup_text), (4, dup_text),                      # 4 = exact copy of 3
        (5, "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10"),   # low quality
        (6, "the cat the cat the cat the cat the cat and a dog is here now"),
        # contaminated: embeds the eval trigram "alpha beta gamma" verbatim
        (7, "we should not leak alpha beta gamma into the training data here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in curation.curate_corpus(
        docs, quality_min=0.5, top_bigram_max=0.25,
        fractions={"en": 1.0}, default_fraction=1.0,
    ).collect()}
    assert got[100]["reason"] == "eval_holdout" and not got[100]["keep"]
    assert got[4]["reason"] == "exact_dup"      # 3 is canonical, 4 is the copy
    assert got[3]["reason"] != "exact_dup"
    assert got[5]["reason"] == "low_quality"
    assert got[6]["reason"] == "repetitive"
    assert got[7]["reason"] == "contaminated"
    assert got[1]["reason"] == "kept" and got[1]["keep"]
    # determinism across repartitioning
    again = {r["doc_id"]: r["reason"] for r in curation.curate_corpus(
        docs.repartition(5), quality_min=0.5, top_bigram_max=0.25,
        fractions={"en": 1.0}, default_fraction=1.0,
    ).collect()}
    assert again == {k: v["reason"] for k, v in got.items()}


def test_curate_corpus_sampled_out_reason(spark):
    """fraction 0.0 for a stratum forces the sampling stage to be the
    first (and only) failure for otherwise-clean docs."""
    from graphframes_rs_spark.pipeline import curation

    good = ("the quick brown fox jumps over the lazy dog and then walks "
            "back home with friends for dinner tonight doc number ")
    docs = spark.createDataFrame(
        [(i, good + str(i)) for i in range(1, 30)], "doc_id long, text string"
    )
    got = curation.curate_corpus(
        docs, quality_min=0.0, top_bigram_max=1.0,
        fractions={"en": 0.0}, default_fraction=0.0,
    ).collect()
    assert all(r["reason"] == "sampled_out" and not r["keep"] for r in got)


def test_duplicated_ngram_coverage_hand_computed(spark):
    """Span-union coverage on a 4-doc corpus: overlapping duplicated grams
    must not double-count tokens, short docs report zeros, and a doc with
    no shared grams reports zero fractions."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),   # shares "a b c" with doc 2 only
            (2, "a b c x y"),
            (3, "p q r s"),     # exact dup of doc 4: both grams dup,
            (4, "p q r s"),     #   union span = 4 tokens (not 6)
            (5, "u v"),         # shorter than n: zero grams
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.duplicated_ngram_coverage(docs, n=3).collect()
    }
    assert out[1]["n_grams"] == 3 and out[1]["dup_grams"] == 1
    assert out[1]["dup_tokens"] == 3  # tokens a, b, c
    assert abs(out[1]["dup_gram_frac"] - 1 / 3) < 1e-6
    assert abs(out[1]["dup_token_frac"] - 3 / 5) < 1e-6
    for d in (3, 4):  # overlapping dup grams: union, not sum
        assert out[d]["n_grams"] == 2 and out[d]["dup_grams"] == 2
        assert out[d]["dup_tokens"] == 4
        assert out[d]["dup_token_frac"] == 1.0
    assert out[5]["n_grams"] == 0 and out[5]["dup_token_frac"] == 0.0
    assert out[5]["n_tokens"] == 2


def test_tfidf_topk_terms_hand_computed(spark):
    """Hand-checked tf·ln(N/df) scores, tie-break on token, per-doc rank."""
    import math

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "c c c")],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["rank"]): r
        for r in text.tfidf_topk_terms(docs, k=2).collect()
    }
    # doc 1: b (1·ln3 ≈ 1.098612) beats a (2·ln1.5 ≈ 0.810930)
    assert out[(1, 1)]["token"] == "b"
    assert abs(out[(1, 1)]["tfidf"] - round(math.log(3), 6)) < 1e-9
    assert out[(1, 2)]["token"] == "a"
    assert abs(out[(1, 2)]["tfidf"] - round(2 * math.log(1.5), 6)) < 1e-9
    # doc 2: a and c tie exactly — token order decides
    assert out[(2, 1)]["token"] == "a" and out[(2, 2)]["token"] == "c"
    # doc 3: only one distinct token
    assert out[(3, 1)]["token"] == "c" and (3, 2) not in out
    assert out[(3, 1)]["tf"] == 3 and out[(3, 1)]["dfreq"] == 2


def test_line_dedup_first_occurrence_wins(spark):
    from graphframes_rs_spark.pipeline.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique one\nBOILER\nunique two"),
            (2, "BOILER\nother text"),          # BOILER dropped (doc 1 pos 1 wins)
            (3, "BOILER\nBOILER"),              # both copies dropped
            (4, "other text\nfresh line"),      # "other text" dropped (doc 2 wins)
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert out[1]["text"] == "unique one\nBOILER\nunique two"
    assert out[1]["n_dropped"] == 0
    assert out[2]["text"] == "other text"
    assert out[2]["n_dropped"] == 1
    assert 3 not in out                       # every line dropped -> doc gone
    assert out[4]["text"] == "fresh line"
    assert out[4]["n_kept"] == 1 and out[4]["n_dropped"] == 1


def test_line_dedup_within_doc_and_short_lines(spark):
    from graphframes_rs_spark.pipeline.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "a b c\n\na b c\nxy")],
        "doc_id long, text string",
    )
    # duplicate INSIDE one doc dedups too; the empty line (below
    # min_line_chars) is kept verbatim in place
    out = line_dedup(docs).collect()[0]
    assert out["text"] == "a b c\n\nxy"
    assert out["n_kept"] == 3 and out["n_dropped"] == 1


def test_line_dedup_custom_separator_is_literal(spark):
    from graphframes_rs_spark.pipeline.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "x.y"), (2, "x.z")],
        "doc_id long, text string",
    )
    # "." must split literally (escaped), not as a regex wildcard
    out = {r["doc_id"]: r["text"] for r in line_dedup(docs, sep=".").collect()}
    assert out[1] == "x.y"
    assert out[2] == "z"


def test_mixture_sample_epochs_and_validation(spark):
    import pytest as _pt

    from graphframes_rs_spark.pipeline.curation import mixture_sample

    docs = spark.createDataFrame(
        [(i, "code" if i % 2 == 0 else "web") for i in range(200)],
        "doc_id long, stratum string",
    )
    out = mixture_sample(docs, "stratum", {"code": 2.5, "web": 0.4}).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    # every code doc appears 2 or 3 times with contiguous epochs 0..n-1
    code_counts = [len(v) for d, v in by_doc.items() if d % 2 == 0]
    assert set(code_counts) <= {2, 3} and 2 in code_counts
    assert all(sorted(v) == list(range(len(v))) for v in by_doc.values())
    # web docs appear 0 or 1 times, roughly 40%
    n_web = sum(1 for d in by_doc if d % 2 == 1)
    assert 20 <= n_web <= 60
    # deterministic across runs
    again = mixture_sample(docs, "stratum", {"code": 2.5, "web": 0.4}).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with _pt.raises(ValueError):
        mixture_sample(docs, "stratum", {"code": 100.0})


def test_corpus_shuffle_layout(spark):
    import pytest as _pt

    from graphframes_rs_spark.pipeline.curation import corpus_shuffle

    docs = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = corpus_shuffle(docs, num_shards=8).collect()
    assert len(out) == 1000
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # positions are dense 0..n-1 within every shard
    assert all(sorted(v) == list(range(len(v))) for v in by_shard.values())
    # shards are roughly balanced (hash uniformity)
    sizes = [len(v) for v in by_shard.values()]
    assert len(by_shard) == 8 and min(sizes) > 70 and max(sizes) < 180
    # stable under repartitioning
    again = corpus_shuffle(docs.repartition(7), num_shards=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with _pt.raises(ValueError):
        corpus_shuffle(docs, num_shards=0)


def test_token_cms_overestimates_bounded_and_merges(spark):
    from graphframes_rs_spark.pipeline.text import token_cms, token_cms_estimate

    docs = spark.createDataFrame(
        [(1, "a a a b c"), (2, "a b d e"), (3, "f g h a")],
        "doc_id long, text string",
    )
    sketch = token_cms(docs, width=64, depth=4)
    vocab = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).distinct()
    est = {
        r["token"]: r["est_count"]
        for r in token_cms_estimate(sketch, vocab, width=64, depth=4).collect()
    }
    true = {"a": 5, "b": 2, "c": 1, "d": 1, "e": 1, "f": 1, "g": 1, "h": 1}
    # CMS never underestimates; with 64 cells and 13 tokens, exact here
    for t, n in true.items():
        assert est[t] >= n, t
    assert est["a"] == 5
    # merging two halves' sketches by summing cells == whole-corpus sketch
    h1 = token_cms(docs.filter("doc_id <= 2"), width=64, depth=4)
    h2 = token_cms(docs.filter("doc_id > 2"), width=64, depth=4)
    merged = (
        h1.unionByName(h2)
        .groupBy("d", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r["d"], r["col"]): r["cnt"] for r in sketch.collect()}
    got = {(r["d"], r["col"]): r["cnt"] for r in merged.collect()}
    assert got == whole

    import pytest as _pt

    with _pt.raises(ValueError):
        token_cms(docs, width=1)


def test_train_val_test_split_stable_and_proportional(spark):
    from graphframes_rs_spark.pipeline.curation import train_val_test_split

    docs = spark.range(0, 4000).select(F.col("id").alias("doc_id"))
    out = train_val_test_split(docs, (0.8, 0.1, 0.1), seed=1)
    frac = {
        r["split"]: r["n"] / 4000
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert abs(frac["train"] - 0.8) < 0.03
    assert abs(frac["val"] - 0.1) < 0.02
    assert abs(frac["test"] - 0.1) < 0.02
    # growth stability: the first 1000 docs keep their assignment when the
    # corpus quadruples
    small = train_val_test_split(
        docs.filter("doc_id < 1000"), (0.8, 0.1, 0.1), seed=1
    )
    a = {r["doc_id"]: r["split"] for r in small.collect()}
    b = {r["doc_id"]: r["split"] for r in out.filter("doc_id < 1000").collect()}
    assert a == b
    with pytest.raises(ValueError):
        train_val_test_split(docs, (0.5, 0.5))


def test_strip_duplicated_spans_hand_computed(spark):
    """Rewrite half of exact-substring dedup: duplicated-span tokens are
    removed position-exactly, survivors keep original order, fully-covered
    docs come back empty, short docs pass through untouched."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),   # "a b c" dup with doc 2 -> keep "d e"
            (2, "x a b c y"),   # dup span in the middle -> keep "x y"
            (3, "p q r s"),     # exact dup of doc 4: everything covered
            (4, "p q r s"),
            (5, "u v"),         # shorter than n: untouched
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.strip_duplicated_spans(docs, n=3).collect()
    }
    assert out[1]["text_clean"] == "d e" and out[1]["n_kept"] == 2
    assert out[2]["text_clean"] == "x y" and out[2]["n_kept"] == 2
    for d in (3, 4):
        assert out[d]["text_clean"] == "" and out[d]["n_kept"] == 0
    assert out[5]["text_clean"] == "u v" and out[5]["n_kept"] == 2
    assert out[5]["n_tokens"] == 2


def test_exact_substr_spans_closed_form(spark):
    """True exact-substring spans (Lee et al. ExactSubstr): a planted
    verbatim 30-char overlap between two docs yields the closed-form
    maximal span (including the shared flanking spaces), a same-doc
    24-char verbatim repeat is detected (occurrence counting — invisible
    to the word-gram doc-freq estimate), and a unique doc emits nothing."""
    shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"  # 30 chars
    rep = "xy" * 12                             # 24 chars
    docs = spark.createDataFrame(
        [
            (1, "aaaa " + shared + " bbbb"),
            (2, "cccc " + shared + " dddd"),
            (3, rep + "-----" + rep),
            (4, "totally unique content here with nothing repeated at all"),
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.exact_substr_spans(docs, min_len=20).collect()
    )
    # shared run incl. both flanking spaces: chars 5..36 -> [5, 37)
    assert spans == [(1, 5, 37), (2, 5, 37), (3, 1, 25), (3, 30, 54)]
    # the hashers are interchangeable: same spans from the O(n) rolling
    # Rabin-Karp scan as from the JVM substring hasher
    rolling = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.exact_substr_spans(
            docs, min_len=20, hasher="rolling"
        ).collect()
    )
    assert rolling == spans
    # count_docs=True restores the cross-document-only policy: the
    # same-doc repeat in doc 3 disappears, the cross-doc overlap stays
    cross = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.exact_substr_spans(
            docs, min_len=20, count_docs=True
        ).collect()
    )
    assert cross == [(1, 5, 37), (2, 5, 37)]


def test_exact_substr_strip_vs_word_gram_strip(spark):
    """Contract comparison on a planted corpus (the docstring's contrast,
    executed): on word-aligned duplication the char-exact strip and the
    word-gram strip agree on surviving CONTENT; on a same-doc verbatim
    repeat only the char-exact operator cuts (word-gram doc-freq sees
    doc_freq 1 and keeps it)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "prefix words alpha beta gamma delta epsilon zeta"),
            # period-9 self-repetition: every 17-char window recurs 9
            # chars later, so min_len=17 covers the whole doc
            (3, "selfsame selfsame selfsame selfsame"),
        ],
        "doc_id long, text string",
    )
    # cross-doc duplication: "alpha ... zeta" (35 chars >= 17)
    char_out = {
        r["doc_id"]: r
        for r in dedup.exact_substr_strip(docs, min_len=17).collect()
    }
    word_out = {
        r["doc_id"]: r
        for r in dedup.strip_duplicated_spans(docs, n=5).collect()
    }
    # doc 1 is fully covered by the shared run under both contracts
    assert char_out[1]["n_kept"] == 0
    assert word_out[1]["n_kept"] == 0
    # doc 2 keeps its unique prefix under both (modulo the word/char
    # accounting: 2 words vs their chars + the boundary space)
    assert word_out[2]["text_clean"] == "prefix words"
    assert char_out[2]["text_clean"].startswith("prefix words")
    # doc 3's SAME-DOC repeat: invisible to the word-gram doc-freq
    # estimate, cut by the occurrence-counting exact operator
    assert word_out[3]["n_kept"] == 4  # untouched
    assert char_out[3]["n_kept"] < char_out[3]["n_chars"]


def test_exact_substr_keep_first_policy(spark):
    """keep_first=True protects the canonical (min doc_id, pos)
    occurrence: the first doc keeps the shared run, later docs lose it;
    a same-doc repeat keeps its first occurrence only. Default behavior
    (cut everywhere) is unchanged. The repeat phrase is NON-periodic on
    purpose: protection is window-granular, so a periodic string's later
    windows are duplicates of its own leading windows and only the
    leading period survives (correct, but not what this test pins)."""
    shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"   # 30 chars
    rep = "the cat sat on the mat!!"            # 24 chars, no period
    docs = spark.createDataFrame(
        [
            (1, "aaaa " + shared + " bbbb"),
            (2, "cccc " + shared + " dddd"),
            (3, rep + "-----" + rep),
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.exact_substr_spans(
            docs, min_len=20, keep_first=True
        ).collect()
    )
    # doc 1 (first occurrence of the shared run) emits nothing for it;
    # doc 2 loses the full shared span; doc 3 keeps its first rep copy
    # and loses the second
    assert spans == [(2, 5, 37), (3, 30, 54)]
    out = {
        r["doc_id"]: r
        for r in dedup.exact_substr_strip(
            docs, min_len=20, keep_first=True
        ).collect()
    }
    assert out[1]["text_clean"] == "aaaa " + shared + " bbbb"  # untouched
    assert out[2]["text_clean"] == "ccccdddd"
    assert out[3]["text_clean"] == rep + "-----"


def test_exact_substr_keep_first_protected_chars_survive(spark):
    """The r12 review repro: overlapping duplicated windows must not let
    neighboring unprotected windows' merged span swallow a PROTECTED
    occurrence's chars. P[1:21]'s canonical copy lives in doc 1 flanked
    by two windows whose canonical copies live elsewhere; the sweep must
    cut only the flanking chars, leaving the protected window verbatim
    (the old anti-join rule deleted it everywhere)."""
    P = "ABCDEFGHIJKLMNOPQRSTUV"  # 22 chars
    docs = spark.createDataFrame(
        [
            (0, P[0:20] + "-----" + P[2:22]),
            (1, "x" + P + "y"),
            (5, "qq" + P + "rr"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.exact_substr_strip(
            docs, min_len=20, keep_first=True
        ).collect()
    }
    # doc 1 keeps the protected middle window P[1:21] verbatim
    assert P[1:21] in out[1]["text_clean"]
    # the duplicated content survives SOMEWHERE for every window:
    # P[0:20] canonical in doc 0, P[1:21] canonical in doc 1, P[2:22]
    # canonical in doc 0
    survivors = " | ".join(out[d]["text_clean"] for d in (0, 1, 5))
    for w in (P[0:20], P[1:21], P[2:22]):
        assert w in survivors, w
    # and doc 5 (no canonical occurrences) is fully stripped of P
    assert P[1:21] not in out[5]["text_clean"]


def test_exact_substr_against_index(spark, tmp_path):
    """Incremental exact-substring dedup: a new batch's spans are found
    against a prebuilt corpus index (presence semantics, never
    batch x batch), the strip removes exactly those chars from the batch,
    a batch-only duplicate is NOT flagged, and a checkpointed index
    returns identical spans."""
    shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"  # 30 chars, in the corpus
    corpus = spark.createDataFrame(
        [(1, "intro " + shared + " outro"),
         (2, "other accepted corpus content entirely")],
        "doc_id long, text string",
    )
    batchdup = "batch only duplicated phrase!"  # 29 chars, NOT in corpus
    new = spark.createDataFrame(
        [(100, "xx " + shared + " yy"),     # re-crawled corpus passage
         (101, batchdup), (102, batchdup),  # dup within batch only
         (103, "completely fresh novel content here")],
        "doc_id long, text string",
    )
    idx = dedup.exact_substr_index(corpus, min_len=20)
    spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.exact_substr_spans_against_index(
            new, idx, min_len=20
        ).collect()
    )
    # only doc 100's shared run (chars 4..33 incl. neither xx/yy flank:
    # corpus has " shared " with spaces, batch has " shared " too ->
    # flanking spaces shared: "  " + shared + " " spans 3..34)
    assert len(spans) == 1 and spans[0][0] == 100
    s0 = spans[0]
    stripped = {
        r["doc_id"]: r
        for r in dedup.exact_substr_strip_against_index(
            new, idx, min_len=20
        ).collect()
    }
    assert stripped[100]["n_kept"] == stripped[100]["n_chars"] - (
        s0[2] - s0[1]
    )
    for d in (101, 102, 103):  # batch-only dup and fresh docs untouched
        assert stripped[d]["text_clean"] == new.filter(
            F.col("doc_id") == d
        ).collect()[0]["text"]
    # checkpointed index round-trips to the same spans, both via the
    # returned wrapper and via the loader (params name the subpath)
    ck = dedup.exact_substr_index(
        corpus, min_len=20, checkpoint_dir=str(tmp_path)
    )
    loaded = dedup.exact_substr_index_load(spark, str(tmp_path), min_len=20)
    for idx2 in (ck, loaded):
        assert sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in dedup.exact_substr_spans_against_index(
                new, idx2
            ).collect()
        ) == spans
    # provenance guard: conflicting explicit params raise instead of
    # silently matching nothing
    import pytest as _pytest

    with _pytest.raises(ValueError, match="provenance"):
        dedup.exact_substr_spans_against_index(new, idx, min_len=50)
    with _pytest.raises(ValueError, match="provenance"):
        dedup.exact_substr_spans_against_index(new, idx, hasher="rolling")
    # a bare gram DataFrame still works but must be explicit
    with _pytest.raises(ValueError, match="provenance"):
        dedup.exact_substr_spans_against_index(new, idx.grams)
    bare = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.exact_substr_spans_against_index(
            new, idx.grams, min_len=20, hasher="gram"
        ).collect()
    )
    assert bare == spans


def test_exact_substr_index_append_equals_rebuild(spark, tmp_path):
    """Parquet-appending a batch's grams to a checkpointed exact-substr
    index equals rebuilding over corpus ∪ batch (presence semantics are
    append-idempotent); wrong params fail on the missing subpath."""
    shared_a = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"
    shared_b = "zyxwvutsrqponmlkjihgfedcba9876"
    corpus = spark.createDataFrame(
        [(1, "intro " + shared_a + " outro")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(2, "pre " + shared_b + " post")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(100, "xx " + shared_a + " yy"),   # dups the original corpus
         (101, "qq " + shared_b + " rr"),   # dups the APPENDED batch
         (102, "completely fresh novel content here")],
        "doc_id long, text string",
    )
    dedup.exact_substr_index(corpus, min_len=20, checkpoint_dir=str(tmp_path))
    grown = dedup.exact_substr_index_append(
        spark, str(tmp_path), batch, min_len=20
    )
    rebuilt = dedup.exact_substr_index(corpus.union(batch), min_len=20)

    def spans(idx):
        return sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in dedup.exact_substr_spans_against_index(
                new, idx
            ).collect()
        )

    got = spans(grown)
    assert got == spans(rebuilt)
    assert {d for d, _, _ in got} == {100, 101}
    # reload sees the appended grams too
    assert spans(
        dedup.exact_substr_index_load(spark, str(tmp_path), min_len=20)
    ) == got
    with pytest.raises(Exception):  # wrong params -> missing subpath
        dedup.exact_substr_index_append(spark, str(tmp_path), batch,
                                        min_len=30)


def test_ivf_index_append_equals_frozen_center_assign(spark, tmp_path):
    """ivf_index_append assigns the batch to the STORED centroids and
    appends: search results over the grown index equal an in-memory
    index built from the same frozen centers over corpus ∪ batch; a
    batch missing the stored columns raises."""
    from graphframes_rs_spark.pipeline import similarity as sim
    import pyspark.sql.functions as SF

    base = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 5).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    batch = spark.range(40, 60).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 5).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    queries = base.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivf")
    idx = sim.ivf_index(base, nlist=4)
    idx.save(path)
    grown = sim.ivf_index_append(spark, path, batch)
    assert grown.assigned.count() == 60
    # manual frozen-center twin over the union
    manual = sim.IVFIndex(
        idx.centers,
        base.union(batch).select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("vec"),
        ).withColumn(
            "list_id", sim._nearest_center_udf(idx.centers)(F.col("vec"))
        ),
        idx.nlist, idx.seed, idx.id_col, idx.vec_col,
    )
    a = sorted(map(tuple, sim.ivf_search(grown, queries, k=5).collect()))
    b = sorted(map(tuple, sim.ivf_search(manual, queries, k=5).collect()))
    assert a == b and a
    with pytest.raises(ValueError, match="missing the index's stored"):
        sim.ivf_index_append(
            spark, path, batch.withColumnRenamed("embedding", "emb")
        )
    # dim mismatch fails fast with a descriptive error, BEFORE any write
    # (r13 ADVICE: previously died inside the assignment UDF's matmul)
    bad_dim = batch.select(
        "vec_id",
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="dim 2 .* dim 3"):
        sim.ivf_index_append(spark, path, bad_dim)
    assert sim.ivf_index_load(spark, path).assigned.count() == 60  # no write


def test_minhash_index_torn_append_detected(spark, tmp_path):
    """A crash between minhash_index_append's two parquet appends leaves
    banded != bands x shingles; minhash_index_load must raise loudly
    (the silent mode would report true duplicates as clean)."""
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh")], "doc_id long, text string"
    )
    path = str(tmp_path / "torn")
    dedup.minhash_index(docs, checkpoint_dir=path)
    # simulate the torn state: append banded rows with no shingle twin
    extra = spark.createDataFrame(
        [(2, "ii jj kk ll mm nn oo pp")], "doc_id long, text string"
    )
    b, _sh = dedup._minhash_index_tables(extra, "text", 16, 4, 3, 42)
    b.write.mode("append").parquet(path + "/banded")
    with pytest.raises(ValueError, match="torn"):
        dedup.minhash_index_load(spark, path)


def test_minhash_index_torn_repair_path(spark, tmp_path):
    """The append-order tear (shingles written, banded crash) is
    recoverable: load raises pointing at repair_torn=True, the repair
    trims the orphan shingle rows, and re-appending the interrupted
    batch then matches a clean rebuild — the error message's recovery
    instruction actually works (r13 ADVICE: it previously named a
    re-append path that could never run)."""
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh")], "doc_id long, text string"
    )
    path = str(tmp_path / "repair")
    dedup.minhash_index(docs, checkpoint_dir=path)
    batch = spark.createDataFrame(
        [(2, "ii jj kk ll mm nn oo pp")], "doc_id long, text string"
    )
    # simulate minhash_index_append crashing between its two writes:
    # shingles committed (the write order's first append), banded not
    _b, sh2 = dedup._minhash_index_tables(batch, "text", 16, 4, 3, 42)
    sh2.write.mode("append").parquet(path + "/shingles")
    with pytest.raises(ValueError, match="repair_torn"):
        dedup.minhash_index_load(spark, path)
    repaired = dedup.minhash_index_load(spark, path, repair_torn=True)
    assert repaired.shingle_arrays.count() == 1  # orphan trimmed
    # the recovery instruction: re-append the interrupted batch
    grown = dedup.minhash_index_append(spark, path, batch)
    rebuilt = dedup.minhash_index(docs.union(batch))
    probe = spark.createDataFrame(
        [(9, "ii jj kk ll mm nn oo pp")], "doc_id long, text string"
    )
    got = sorted(map(tuple, dedup.dedup_against_index(probe, grown).collect()))
    want = sorted(map(tuple, dedup.dedup_against_index(probe, rebuilt).collect()))
    assert got == want and got


def test_minhash_index_replayed_append_no_duplicate_pairs(spark, tmp_path):
    """A REPLAYED append (at-least-once delivery: both writes committed
    twice) passes the torn invariant with the batch duplicated in both
    tables; dedup_against_index must still emit each (new_id, index_id)
    pair exactly once (r13 ADVICE: the duplicates previously multiplied
    output rows)."""
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh")], "doc_id long, text string"
    )
    path = str(tmp_path / "replay")
    dedup.minhash_index(docs, checkpoint_dir=path)
    batch = spark.createDataFrame(
        [(2, "ii jj kk ll mm nn oo pp")], "doc_id long, text string"
    )
    dedup.minhash_index_append(spark, path, batch)
    replayed = dedup.minhash_index_append(spark, path, batch)  # the replay
    assert replayed.shingle_arrays.count() == 3  # 1 + batch twice
    probe = spark.createDataFrame(
        [(9, "ii jj kk ll mm nn oo pp")], "doc_id long, text string"
    )
    rows = dedup.dedup_against_index(probe, replayed).collect()
    assert [(r["new_id"], r["index_id"]) for r in rows] == [(9, 2)]


def test_ivf_index_maintain_rebuild_loop(spark, tmp_path):
    """The closed maintenance loop (r13 verdict task 5): appends drift
    the distribution until the recall probe drops below the floor, which
    triggers a centroid re-fit + atomic rename-aside swap; after the
    swap the index equals a from-scratch build over the accumulated
    corpus (same seed/fit dials => identical centroids => identical
    search), and the crash window (live dir renamed aside, promote not
    done) self-heals on the next call."""
    import os

    from graphframes_rs_spark.pipeline import similarity as sim

    def vecs(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    # initial corpus: a tight cluster along +x (z = 0) — all 4 stale
    # centroids land at x=1 differing only in tiny y offsets
    base = vecs([(i, [1.0, 0.001 * i, 0.0]) for i in range(30)])
    path = str(tmp_path / "maint")
    sim.ivf_index(base, nlist=4, fit_points=10).save(path)
    # drifted batch: similarity lives in the x-z ANGLE (consecutive i
    # are cosine neighbors), but the stale centroids only discriminate
    # on the tiny cycling y term — so every 4 consecutive NEIGHBORS land
    # in 4 DIFFERENT cells while each query probes one, and nprobe=1
    # collapses
    import math

    y_cycle = [0.0, 0.01, 0.018, 0.026]
    drift = vecs([
        (100 + i,
         [math.cos(0.05 + 0.1 * i), y_cycle[i % 4],
          math.sin(0.05 + 0.1 * i)])
        for i in range(40)
    ])
    queries = vecs([
        (900 + j,
         [math.cos(0.1 + 0.4 * j), 0.0, math.sin(0.1 + 0.4 * j)])
        for j in range(10)
    ])
    idx, ev = sim.ivf_index_maintain(
        spark, path, drift, queries, recall_floor=0.8, k=5, nprobe=1,
        fit_points=10,
    )
    assert ev["rebuilt"] and ev["recall"] < 0.8
    assert ev["recall_after"] > ev["recall"]
    assert not os.path.isdir(path + ".old")  # swap completed clean
    # post-swap equality with a from-scratch build over the same corpus
    direct = sim.ivf_index(
        base.union(drift), nlist=4, fit_points=10
    )
    a = sorted(map(tuple, sim.ivf_search(idx, queries, k=3, nprobe=4).collect()))
    b = sorted(map(tuple, sim.ivf_search(direct, queries, k=3, nprobe=4).collect()))
    assert a == b and a
    # crash window: live index renamed aside, promote never happened —
    # the next maintain call restores it and proceeds
    os.rename(path, path + ".old")
    tiny = vecs([(500, [0.0, -1.0, 0.0])])
    idx2, ev2 = sim.ivf_index_maintain(
        spark, path, tiny, queries, recall_floor=0.0, k=3, nprobe=4,
        fit_points=10,
    )
    assert os.path.isdir(path) and not os.path.isdir(path + ".old")
    assert not ev2["rebuilt"]  # floor 0.0 never triggers
    assert idx2.assigned.count() == 71  # 30 + 40 + 1: nothing was lost


def test_ann_recall_probe(spark, tmp_path):
    """ann_recall == 1.0 at full probe (nprobe >= nlist is exhaustive),
    stays in (0, 1] at nprobe=1, works over an appended index, and
    raises on an empty query sample."""
    from graphframes_rs_spark.pipeline import similarity as sim

    base = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 11).cast("double"),
            (F.col("id") % 7).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    queries = base.filter(F.col("vec_id") < 5)
    idx = sim.ivf_index(base, nlist=4)
    assert sim.ann_recall(idx, queries, k=5, nprobe=4) == 1.0
    r1 = sim.ann_recall(idx, queries, k=5, nprobe=1)
    assert 0.0 < r1 <= 1.0
    # still measurable after an append (the maintenance loop's usage)
    path = str(tmp_path / "ivf_recall")
    idx.save(path)
    grown = sim.ivf_index_append(
        spark, path,
        spark.range(60, 80).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 11).cast("double"),
                (F.col("id") % 7).cast("double"),
                F.lit(1.0),
            ).alias("embedding"),
        ),
    )
    assert sim.ann_recall(grown, queries, k=5, nprobe=4) == 1.0
    # empty probe sample fails loudly (either the exact scan's own empty
    # guard or ann_recall's zero-pairs guard, both ValueError)
    with pytest.raises(ValueError):
        sim.ann_recall(idx, queries.filter(F.col("vec_id") < 0), k=5)


def test_exact_substr_hashers_agree_on_real_corpus(spark, docs):
    """The JVM substring hasher and the numpy rolling hasher produce the
    same span set on the REAL sf0.01 documents table (planted-corpus
    equality is necessary but this exercises arbitrary lengths, shared
    templates, and Arrow batching over 500 docs)."""
    gram = sorted(
        map(tuple, dedup.exact_substr_spans(docs, min_len=40).collect())
    )
    rolling = sorted(
        map(tuple, dedup.exact_substr_spans(
            docs, min_len=40, hasher="rolling"
        ).collect())
    )
    assert gram == rolling
    assert gram, "sf fixture must contain duplicated 40-char runs"


def test_exact_substr_spans_short_and_null_docs(spark):
    """Docs shorter than min_len emit no grams (sequence() never counts
    down) and NULL text is skipped by both hashers."""
    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "tiny"), (3, None)],
        "doc_id long, text string",
    )
    for hasher in ("gram", "rolling"):
        assert (
            dedup.exact_substr_spans(docs, min_len=10, hasher=hasher).count()
            == 0
        )


def test_temperature_mixture_weights_hand_computed(spark):
    """tau=0.5 square-root flattening: a 4x token imbalance becomes a 2x
    target share ratio; epochs realize the budget exactly."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "big", " ".join(["t"] * 16)),
            (2, "small", " ".join(["t"] * 4)),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r["source"]: r
        for r in curation.temperature_mixture_weights(
            docs, tau=0.5, token_budget=100
        ).collect()
    }
    assert out["big"]["n_tokens"] == 16 and out["small"]["n_tokens"] == 4
    assert abs(out["big"]["p_raw"] - 0.8) < 1e-6
    # sqrt weights: 4 vs 2 -> shares 2/3 vs 1/3
    assert abs(out["big"]["p_target"] - round(2 / 3, 6)) < 1e-6
    assert abs(out["small"]["p_target"] - round(1 / 3, 6)) < 1e-6
    # epochs = budget * share / tokens: small domain upsampled past 8 passes
    assert abs(out["big"]["epochs"] - round(100 * (2 / 3) / 16, 6)) < 1e-6
    assert abs(out["small"]["epochs"] - round(100 * (1 / 3) / 4, 6)) < 1e-6
    # tau=1 degenerates to proportional sampling: p_target == p_raw
    prop = {
        r["source"]: r
        for r in curation.temperature_mixture_weights(
            docs, tau=1.0, token_budget=100
        ).collect()
    }
    assert abs(prop["big"]["p_target"] - prop["big"]["p_raw"]) < 1e-6


def test_ngram_containment_quote_detection(spark):
    # doc 2 is a verbatim excerpt of doc 1: containment must hit 1.0
    # even though Jaccard stays low (union dominated by doc 1's size).
    long = "a b c d e f g h i j k l m n o p"
    quote = "d e f g h"
    rows = [(1, long), (2, quote), (3, "z z z z z")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.ngram_containment_pairs(
            docs, threshold=0.5, max_doc_freq=None
        ).collect()
    }
    # doc2 has 3 distinct 3-gram shingles, all present in doc1
    assert out[(1, 2)] == 1.0
    assert (1, 3) not in out and (2, 3) not in out
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0, max_doc_freq=None
        ).collect()
    }
    assert jac[(1, 2)] < 0.5  # the pair Jaccard would have missed


def test_bpe_merge_stats_hand_computed(spark):
    # words: "abab" x3, "ab" x2, "ba" x1, "x" x1 (no pairs from "x")
    docs = spark.createDataFrame(
        [
            (1, "abab abab ab"),
            (2, "abab ab ba x"),
        ],
        ["doc_id", "text"],
    )
    out = {r["pair"]: r for r in text.bpe_merge_stats(docs, topk=10, min_count=1).collect()}
    # "abab": pairs ab, ba, ab -> 2*ab + 1*ba per occurrence, freq 3
    # "ab": pair ab, freq 2;  "ba": pair ba, freq 1
    assert out["ab"]["n"] == 2 * 3 + 2
    assert out["ba"]["n"] == 1 * 3 + 1
    assert out["ab"]["rank"] == 1 and out["ba"]["rank"] == 2
    assert out["ab"]["left"] == "a" and out["ab"]["right"] == "b"
    assert set(out) == {"ab", "ba"}


def test_bpe_train_hand_computed(spark):
    """Iterative trainer on a corpus small enough to replay by hand:
    merge 1 fuses the dominant char pair (== bpe_merge_stats rank 1 by
    construction); merge 2 counts PAIRS OF THE NEW SYMBOL, proving the
    re-count after each merge (the part bpe_merge_stats alone lacks)."""
    docs = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "abab ab ba x")], ["doc_id", "text"]
    )
    merges = text.bpe_train(docs, num_merges=5, min_count=1).collect()
    got = [(r["rank"], r["left"], r["right"]) for r in merges]
    # vocab: abab x3, ab x2, ba x1, x x1
    # round 1: (a,b) = 2*3 + 2 = 8 beats (b,a) = 3+1 -> merge "ab"
    # round 2: abab -> [ab, ab] so (ab, ab) = 3; ba untouched (b,a) = 1
    # round 3: abab -> [abab]; only "ba" has a pair left: (b,a) = 1
    # round 4: nothing left
    assert got == [(1, "a", "b"), (2, "ab", "ab"), (3, "b", "a")]
    top = text.bpe_merge_stats(docs, topk=1, min_count=1).collect()[0]
    assert (top["left"], top["right"]) == (got[0][1], got[0][2])


def test_bpe_encode_replay_and_roundtrip(spark):
    """Encoder semantics: merge-order replay per word (trained list),
    lossless round-trip (concatenating a doc's symbols in pos order
    reproduces its text with spaces dropped), dense deterministic ids,
    and composition with pack_documents on the encoded token counts."""
    docs = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "abab ab ba x")], ["doc_id", "text"]
    )
    merges = text.bpe_train(docs, num_merges=2, min_count=1)
    out = text.bpe_encode(docs, merges).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # replay by hand with merges [(a,b), (ab,ab)]:
    # abab -> abab (one symbol), ab -> ab, ba -> b a, x -> x
    seq1 = [r["token"] for r in sorted(by_doc[1], key=lambda r: r["pos"])]
    seq2 = [r["token"] for r in sorted(by_doc[2], key=lambda r: r["pos"])]
    assert seq1 == ["abab", "abab", "ab"]
    assert seq2 == ["abab", "ab", "b", "a", "x"]
    # lossless round-trip: symbols concatenate back to the spaceless text
    assert "".join(seq1) == "ababababab"
    assert "".join(seq2) == "abababbax"  # "abab ab ba x" minus spaces
    # dense sorted ids: a < ab < abab < b < x
    ids = {r["token"]: r["token_id"] for r in out}
    assert ids == {"a": 1, "ab": 2, "abab": 3, "b": 4, "x": 5}
    # positions are 0..n-1 per doc with no gaps
    assert [r["pos"] for r in sorted(by_doc[2], key=lambda r: r["pos"])] == [
        0, 1, 2, 3, 4,
    ]
    # composition with the packer: bin every doc by its ENCODED length
    counts = (
        spark.createDataFrame(
            [(d, " ".join(t["token"] for t in sorted(rs, key=lambda r: r["pos"])))
             for d, rs in by_doc.items()],
            ["doc_id", "text"],
        )
    )
    packed = {
        r["doc_id"]: r
        for r in text.pack_documents(counts, cap_tokens=4, shards=1).collect()
    }
    assert packed[1]["n_tokens"] == 3 and packed[2]["n_tokens"] == 5


def test_bpe_encode_fixpoint_adjacent_runs(spark):
    """The delimiter-sharing case the per-rank fixpoint loop exists for:
    'aaaa' under merge (a,a) must become [aa, aa], not [aa, a, a] (one
    non-overlapping replace pass misses every second occurrence)."""
    docs = spark.createDataFrame(
        [(1, "aaaa aaa a")], ["doc_id", "text"]
    )
    out = sorted(
        text.bpe_encode(docs, [("a", "a")]).collect(),
        key=lambda r: r["pos"],
    )
    assert [r["token"] for r in out] == ["aa", "aa", "aa", "a", "a"]


def test_bpe_vocab_stable_ids_across_batches(spark, tmp_path):
    """The fixed-vocab path (r13 verdict task 3): ids frozen at
    bpe_vocab time are STABLE across disjoint future batches (the
    corpus-relative mode re-ranks per corpus), OOV symbols keep their
    text with token_id=0 (the explicit unk policy), the tokenizer
    round-trips through save/load, and merges+vocab together raise."""
    train = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "abab ab ba x")], ["doc_id", "text"]
    )
    vocab = text.bpe_vocab(train, merges=[("a", "b"), ("ab", "ab")])
    # vocab = chars {a, b, x} ∪ fused {ab, abab}, sorted:
    ids = {r["token"]: r["token_id"] for r in vocab.vocab.collect()}
    assert ids == {"a": 1, "ab": 2, "abab": 3, "b": 4, "x": 5}

    b1 = spark.createDataFrame([(10, "abab ba")], ["doc_id", "text"])
    b2 = spark.createDataFrame([(20, "ab abab x qq")], ["doc_id", "text"])
    e1 = {(r["token"], r["token_id"])
          for r in text.bpe_encode(b1, vocab=vocab).collect()}
    e2 = {(r["token"], r["token_id"])
          for r in text.bpe_encode(b2, vocab=vocab).collect()}
    # shared symbols across disjoint batches carry identical frozen ids
    assert ("abab", 3) in e1 and ("abab", 3) in e2
    assert ("b", 4) in e1 and ("ab", 2) in e2
    # 'q' never appeared in training: OOV -> unk id 0, text preserved
    assert ("q", 0) in e2
    # contrast: corpus-relative mode re-ranks ids per corpus
    rel = {r["token"]: r["token_id"]
           for r in text.bpe_encode(b1, [("a", "b"), ("ab", "ab")]).collect()}
    assert rel["abab"] != 3  # only {a, b, abab} exist in b1's encoding

    # save/load round-trip: identical merges, identical encode output
    path = str(tmp_path / "bpe")
    vocab.save(path)
    loaded = text.bpe_vocab_load(spark, path)
    assert loaded.merges == vocab.merges
    assert {(r["token"], r["token_id"])
            for r in text.bpe_encode(b2, vocab=loaded).collect()} == e2
    # a path string is accepted directly
    assert {(r["token"], r["token_id"])
            for r in text.bpe_encode(b2, vocab=path).collect()} == e2

    with pytest.raises(ValueError, match="merges OR vocab"):
        text.bpe_encode(b1, [("a", "b")], vocab=vocab)
    with pytest.raises(ValueError, match="merges/vocab"):
        text.bpe_encode(b1)
    with pytest.raises(Exception):  # missing dir (or empty vocab table)
        text.bpe_vocab_load(spark, str(tmp_path / "nope"))


def test_dsir_weights_directionality(spark):
    # target docs use token "good", raw-only docs use "bad": the weight
    # of a target-like doc must exceed a raw-like doc's.
    rows = [
        (i, "good good good signal", "tgt") for i in range(5)
    ] + [
        (i + 5, "bad bad bad noise", "other") for i in range(5)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        r["doc_id"]: r
        for r in curation.dsir_weights(
            docs, ["tgt"], n_buckets=64, smoothing=1.0
        ).collect()
    }
    assert len(out) == 10
    # every doc has 4 unigrams + 3 bigrams = 7 grams
    assert all(r["n_grams"] == 7 for r in out.values())
    tgt_score = out[0]["logratio"]
    raw_score = out[5]["logratio"]
    assert tgt_score > 0 > raw_score
    # identical docs get identical weights (determinism)
    assert all(out[i]["logratio"] == tgt_score for i in range(5))
    assert all(out[i + 5]["logratio"] == raw_score for i in range(5))


def test_dsir_weights_materialization_modes_agree(spark, tmp_path):
    """The three per_db materialization modes (localCheckpoint default,
    reliable parquet checkpoint, pure-lazy) are execution strategies, not
    semantics: identical integer-exact scores from all three."""
    rows = [(i, f"tok{i % 3} common tok{i % 5}", "tgt" if i % 2 else "raw")
            for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    def run(**kw):
        return sorted(
            (r["doc_id"], r["n_grams"], r["logratio"])
            for r in curation.dsir_weights(
                docs, ["tgt"], n_buckets=32, **kw
            ).collect()
        )

    default = run()
    assert run(checkpoint_dir=str(tmp_path / "dsir_ckpt")) == default
    assert run(materialize=False) == default


def test_hard_negatives_excludes_same_label(spark):
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.14], 0),   # same label as 1: excluded for query 1
        (3, [0.9, 0.44], 1),    # closest cross-label to 1
        (4, [0.0, 1.0], 1),
        (5, [-1.0, 0.0], 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    out = similarity.hard_negatives(
        emb, emb.filter(F.col("vec_id") == 1), k=2
    ).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(3, 1), (4, 2)]
    assert all(r["query_label"] != r["neighbor_label"] for r in out)
    assert all(r["query_id"] == 1 for r in out)


def test_inverted_postings_hand_computed(spark):
    docs = spark.createDataFrame(
        [(3, "b a b"), (1, "a b"), (2, "a c")], ["doc_id", "text"]
    )
    out = {r["term"]: r for r in text.inverted_postings(
        docs, min_df=2, max_postings=2
    ).collect()}
    assert set(out) == {"a", "b"}  # c has df=1
    assert out["a"]["df"] == 3 and out["a"]["cf"] == 3
    assert out["a"]["postings"] == "1,2"  # capped at 2, ascending
    assert out["b"]["df"] == 2 and out["b"]["cf"] == 3
    assert out["b"]["postings"] == "1,3"


def test_inverted_postings_null_doc_ids(spark):
    """NULL doc_ids must not eat max_postings slots (they'd rank first and
    then be dropped by collect_list): df/cf count the NULL group as before,
    posting strings carry only real ids, and a term seen only under NULL
    doc_ids keeps its row with an empty posting string."""
    rows = [(None, "common alpha"), (1, "common alpha"), (2, "common beta"),
            (None, "ghost ghost"), (None, "ghost common")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["term"]: r for r in text.inverted_postings(
        docs, min_df=1, max_postings=1).collect()}
    assert out["common"]["postings"] == "1"   # NULL didn't consume the slot
    assert out["alpha"]["postings"] == "1"
    # the NULL doc_ids form one (term, NULL) group: df counts it as before
    assert out["common"]["df"] == 3
    assert out["ghost"]["df"] == 1 and out["ghost"]["postings"] == ""


def test_dsir_weights_checkpoint_dir_reusable_across_calls(spark, tmp_path):
    """Two dsir_weights calls sharing one checkpoint_dir must not clobber
    each other's still-referenced checkpoints (lazy results from call 1
    stay correct after call 2 runs)."""
    docs_a = spark.createDataFrame(
        [(i, "good signal", "tgt" if i % 2 else "raw") for i in range(8)],
        ["doc_id", "text", "source"])
    docs_b = spark.createDataFrame(
        [(i, "bad noise here", "tgt" if i % 3 else "raw") for i in range(9)],
        ["doc_id", "text", "source"])
    d = str(tmp_path / "shared")
    res_a = curation.dsir_weights(docs_a, ["tgt"], n_buckets=32, checkpoint_dir=d)
    expect_a = sorted((r["doc_id"], r["logratio"]) for r in res_a.collect())
    res_b = curation.dsir_weights(docs_b, ["tgt"], n_buckets=32, checkpoint_dir=d)
    res_b.collect()
    # re-execute call 1's result AFTER call 2 wrote into the same dir
    assert sorted((r["doc_id"], r["logratio"]) for r in res_a.collect()) == expect_a


def test_semantic_decontamination_planted(spark):
    """A train vector nearly parallel to an eval vector is flagged; an
    orthogonal one is not; max_eval_cosine is the true max over the eval
    split (vec_id % eval_mod == 0)."""
    rows = [
        (0, [1.0, 0.0, 0.0]),      # eval (id % 2 == 0 with eval_mod=2)
        (2, [0.0, 1.0, 0.0]),      # eval
        (1, [0.999, 0.0447, 0.0]), # train: ~parallel to eval 0 -> flagged
        (3, [0.0, 0.0, 1.0]),      # train: orthogonal to both -> clean
        (5, [0.6, 0.8, 0.0]),      # train: cos 0.8 vs eval 2 -> boundary
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in curation.semantic_decontamination(
        emb, threshold=0.8, eval_mod=2).collect()}
    assert set(out) == {1, 3, 5}
    assert out[1]["contaminated"] and out[1]["max_eval_cosine"] > 0.99
    assert not out[3]["contaminated"] and out[3]["max_eval_cosine"] == 0.0
    assert out[5]["contaminated"] and abs(out[5]["max_eval_cosine"] - 0.8) < 1e-9
    # explicit eval frame: same answer as the carved split
    ev = emb.filter(F.col("vec_id") % 2 == 0)
    tr = emb.filter(F.col("vec_id") % 2 != 0)
    out2 = {r["vec_id"]: r["max_eval_cosine"] for r in
            curation.semantic_decontamination(tr, eval_emb=ev, threshold=0.8).collect()}
    assert out2 == {k: v["max_eval_cosine"] for k, v in out.items()}


def test_semantic_decontamination_empty_eval_contract(spark):
    """Documented contract: an empty eval side yields an EMPTY result
    (no max is defined), not a pass-through."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (3, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    empty_eval = emb.filter(F.lit(False))
    assert curation.semantic_decontamination(emb, eval_emb=empty_eval).count() == 0


def test_semantic_dedup_clusters_ivf_matches_blocked(spark):
    """The ivf pass-through on semantic_dedup_clusters produces the same
    clusters as the exact blocked generator when recall is 1.0 —
    transitivity and canonical labels are generator-independent.
    nprobe == nlist makes recall STRUCTURALLY 1.0 (every vector probes
    every cell, so every pair has one side's home in the other's probe
    set) — nprobe < nlist only made it 1.0 by centroid luck, and the
    fit_points 100->30 default change moved the centroids enough to
    orphan one pair."""
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    a = dedup.semantic_dedup_clusters(df, threshold=0.4)
    b = dedup.semantic_dedup_clusters(
        df, threshold=0.4, method="ivf", nlist=4, nprobe=4
    )
    ra = {(r["vec_id"], r["cluster"], r["is_canonical"]) for r in a.collect()}
    rb = {(r["vec_id"], r["cluster"], r["is_canonical"]) for r in b.collect()}
    assert ra == rb


def test_dedup_against_index_planted(spark):
    """Incremental dedup finds a new doc near-duplicating an index doc,
    never pairs within a side, and reports the exact distinct-shingle
    Jaccard (verified by hand below)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    index = spark.createDataFrame(
        [(1, base), (2, "totally unrelated index content goes right here now")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, near), (11, near)],  # two new docs both matching index doc 1
        "doc_id long, text string",
    )
    out = dedup.dedup_against_index(new, index, threshold=0.3)
    rows = {(r["new_id"], r["index_id"]): r["jaccard"] for r in out.collect()}
    assert set(rows) == {(10, 1), (11, 1)}
    # 12 distinct 3-gram shingles each, 10 shared -> jaccard 10/14
    a = base.split(" ")
    sh_a = {" ".join(a[i:i + 3]) for i in range(len(a) - 2)}
    b = near.split(" ")
    sh_b = {" ".join(b[i:i + 3]) for i in range(len(b) - 2)}
    want = round(len(sh_a & sh_b) / len(sh_a | sh_b), 6)
    assert abs(rows[(10, 1)] - want) < 1e-9
    # new x new is out of scope by construction: 10 and 11 are identical
    # but must not appear as a pair
    assert not any(n in (10, 11) and i in (10, 11) for n, i in rows)


def test_dedup_against_index_same_id_is_cross_frame(spark):
    """A doc_id present in BOTH frames is an ordinary cross-frame
    comparison over the two ACTUAL texts, not a synthetic self-pair:
    identical texts under a shared stable id surface as (x, x, 1.0) —
    the re-ingestion signal — while unrelated texts that merely share an
    id label are compared on content and stay below threshold."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    index = spark.createDataFrame(
        [(1, base), (2, "totally unrelated index content goes right here now")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, base),  # stable id, re-crawled identical text -> (1, 1, 1.0)
         (2, base)],  # accidental label collision, different text vs idx 2
        "doc_id long, text string",
    )
    out = dedup.dedup_against_index(new, index, threshold=0.3)
    rows = {(r["new_id"], r["index_id"]): r["jaccard"] for r in out.collect()}
    assert rows[(1, 1)] == 1.0
    assert (2, 2) not in rows  # compared on content, not dropped by label
    assert rows[(2, 1)] == 1.0  # new doc 2's text DOES match index doc 1


def test_dedup_against_index_skip_same_id_opt_out(spark):
    """skip_same_id=True restores the pre-r11 exclusion for callers that
    feed overlapping frames: shared-id pairs are dropped BEFORE rescoring
    while cross-id matches are untouched."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    index = spark.createDataFrame(
        [(1, base), (2, "totally unrelated index content goes right here now")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, base), (7, base)], "doc_id long, text string"
    )
    out = dedup.dedup_against_index(new, index, threshold=0.3,
                                    skip_same_id=True)
    rows = {(r["new_id"], r["index_id"]): r["jaccard"] for r in out.collect()}
    assert (1, 1) not in rows  # shared id excluded under the opt-out
    assert rows[(7, 1)] == 1.0  # cross-id match unaffected


def test_dedup_against_index_bucket_cap(spark):
    """max_bucket_size drops degenerate INDEX buckets from candidate
    generation: with every index doc identical (one giant bucket per
    band), cap=1 suppresses all candidates; cap=None finds them."""
    same = "aa bb cc dd ee ff gg hh ii jj kk ll"
    index = spark.createDataFrame(
        [(i, same) for i in range(5)], "doc_id long, text string"
    )
    new = spark.createDataFrame([(100, same)], "doc_id long, text string")
    exact = dedup.dedup_against_index(new, index, threshold=0.9,
                                      max_bucket_size=None)
    capped = dedup.dedup_against_index(new, index, threshold=0.9,
                                       max_bucket_size=1)
    assert exact.count() == 5
    assert capped.count() == 0


def test_minhash_lsh_candidates_accepts_index(spark):
    """minhash_lsh_candidates over a MinHashIndex equals the signature
    path (the stored banded table IS the posexploded band keys); an
    explicit conflicting k raises."""
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh"), (2, "aa bb cc dd ee ff gg hh"),
         (3, "totally different words live here now friend")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(docs, k=8)
    direct = sorted(map(tuple, dedup.minhash_lsh_candidates(
        sigs, k=8, bands=4).collect()))
    idx = dedup.minhash_index(docs, k=8, bands=4)
    via_index = sorted(map(tuple, dedup.minhash_lsh_candidates(idx).collect()))
    assert via_index == direct and (1, 2) in direct
    with pytest.raises(ValueError, match="provenance"):
        dedup.minhash_lsh_candidates(idx, k=16)


def test_simhash_against_index_brute_force_equal(spark):
    """The banded incremental simhash join with the cap off equals the
    brute-force cross-side popcount scan (the pigeonhole guarantee),
    and never emits within-side pairs."""
    rows = [(i, f"doc {i} shared body words alpha beta gamma delta "
                f"{'epsilon' if i % 3 == 0 else 'zeta eta'}")
            for i in range(40)]
    index = spark.createDataFrame(rows[:25], "doc_id long, text string")
    new = spark.createDataFrame(
        [(i + 100, t) for i, t in rows[25:]], "doc_id long, text string"
    )
    out = sorted(
        (r["new_id"], r["index_id"], r["hamming"])
        for r in dedup.simhash_against_index(
            new, index, max_hamming=6, max_bucket_size=None
        ).collect()
    )
    sig_n = {r["doc_id"]: r["simhash"]
             for r in dedup.simhash(new).collect()}
    sig_i = {r["doc_id"]: r["simhash"]
             for r in dedup.simhash(index).collect()}
    brute = sorted(
        (a, b, bin(sa ^ sb).count("1"))
        for a, sa in sig_n.items() for b, sb in sig_i.items()
        if bin(sa ^ sb).count("1") <= 6
    )
    assert out == brute and out  # non-vacuous
    assert all(n >= 100 and i < 100 for n, i, _ in out)


def test_simhash_index_roundtrip_append_provenance(spark, tmp_path):
    """SimHashIndex save/load + parquet append equal the direct path;
    a conflicting explicit bits raises; load of a missing dir fails."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "totally different words entirely here now")],
        "doc_id long, text string",
    )
    extra = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon eta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )

    def rows(out):
        return sorted((r["new_id"], r["index_id"], r["hamming"])
                      for r in out.collect())

    direct = rows(dedup.simhash_against_index(
        new, corpus.union(extra), max_hamming=8, max_bucket_size=None))
    assert direct  # doc 10 == doc 1 verbatim -> hamming 0 at least
    idx = dedup.simhash_index(corpus).append(extra)
    assert rows(dedup.simhash_against_index(
        new, idx, max_hamming=8, max_bucket_size=None)) == direct
    path = str(tmp_path / "sh_idx")
    dedup.simhash_index(corpus, checkpoint_dir=path)
    grown = dedup.simhash_index_append(spark, path, extra)
    assert rows(dedup.simhash_against_index(
        new, grown, max_hamming=8, max_bucket_size=None)) == direct
    assert rows(dedup.simhash_against_index(
        new, dedup.simhash_index_load(spark, path),
        max_hamming=8, max_bucket_size=None)) == direct
    with pytest.raises(ValueError, match="provenance"):
        dedup.simhash_against_index(new, grown, bits=16)
    with pytest.raises(Exception):
        dedup.simhash_index_load(spark, str(tmp_path / "missing"))


def test_minhash_index_equals_direct_path(spark, tmp_path):
    """dedup_against_index over a prebuilt MinHashIndex returns exactly
    the rows of the raw-frame path (same band construction by shared
    helper), through a save/load round-trip and a parquet append."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    corpus = spark.createDataFrame(
        [(1, base), (2, "totally unrelated index content goes right here now")],
        "doc_id long, text string",
    )
    extra = spark.createDataFrame(
        [(3, "yet another accepted document with novel words throughout it")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, near), (11, "yet another accepted document with novel words throughout it")],
        "doc_id long, text string",
    )

    def rows(out):
        return sorted((r["new_id"], r["index_id"], r["jaccard"])
                      for r in out.collect())

    direct = rows(dedup.dedup_against_index(
        new, corpus.union(extra), threshold=0.3))
    # in-memory build + append
    idx = dedup.minhash_index(corpus).append(extra)
    assert rows(dedup.dedup_against_index(new, idx, threshold=0.3)) == direct
    # persisted build + minhash_index_append growth
    path = str(tmp_path / "mh_idx")
    dedup.minhash_index(corpus, checkpoint_dir=path)
    grown = dedup.minhash_index_append(spark, path, extra)
    assert rows(dedup.dedup_against_index(new, grown, threshold=0.3)) == direct
    # reload sees the appended rows too
    reloaded = dedup.minhash_index_load(spark, path)
    assert rows(dedup.dedup_against_index(new, reloaded, threshold=0.3)) == direct
    assert direct  # the planted near-dup actually surfaced


def test_minhash_index_provenance_conflict_raises(spark, tmp_path):
    """Query params conflicting with the index's stored build provenance
    raise instead of silently never colliding; matching explicit params
    and provenance-defaulted params both work. An empty/missing save dir
    fails fast in minhash_index_load."""
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh ii jj")], "doc_id long, text string"
    )
    idx = dedup.minhash_index(docs, k=8, bands=2, n=2, seed=7)
    assert (idx.k, idx.bands, idx.n, idx.seed) == (8, 2, 2, 7)
    with pytest.raises(ValueError, match="provenance"):
        dedup.dedup_against_index(docs, idx, k=16)
    with pytest.raises(ValueError, match="provenance"):
        dedup.dedup_against_index(docs, idx, seed=42)
    # explicit-but-matching and defaulted both resolve to the provenance
    a = dedup.dedup_against_index(docs, idx, k=8, bands=2, n=2, seed=7,
                                  threshold=0.5).collect()
    b = dedup.dedup_against_index(docs, idx, threshold=0.5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    with pytest.raises(Exception):
        dedup.minhash_index_load(spark, str(tmp_path / "nonexistent"))


def test_ivf_topk_phase_stats_contract(spark, embeddings):
    """phase_stats fills (phase, rows, seconds) in fit/assign order when a
    list is passed, and the assign row count equals the base size; results
    are identical to the uninstrumented plan (the persist is
    instrumentation-only)."""
    queries = embeddings.filter(F.col("vec_id") < 3)
    ph = []
    a = similarity.ivf_topk(
        embeddings, queries, k=3, nlist=4, nprobe=4, phase_stats=ph
    )
    ra = {(r["query_id"], r["neighbor_id"]) for r in a.collect()}
    assert [p[0] for p in ph] == ["fit", "assign"]
    assert ph[1][1] == embeddings.count()
    assert all(isinstance(p[2], float) and p[2] >= 0 for p in ph)
    b = similarity.ivf_topk(embeddings, queries, k=3, nlist=4, nprobe=4)
    rb = {(r["query_id"], r["neighbor_id"]) for r in b.collect()}
    assert ra == rb


def test_auto_neardup_method_rule():
    """The pure selection rule behind method='auto': exact blocked at or
    below the measured crossover, sub-quadratic IVF above (unit-tested
    here so the 400k-tier behavior is pinned without a 400k-row frame)."""
    from graphframes_rs_spark.pipeline.dedup import (
        AUTO_METHOD_ROW_THRESHOLD,
        _auto_neardup_method,
    )

    assert _auto_neardup_method(1_000) == "blocked"
    assert _auto_neardup_method(AUTO_METHOD_ROW_THRESHOLD) == "blocked"
    assert _auto_neardup_method(AUTO_METHOD_ROW_THRESHOLD + 1) == "ivf"
    assert _auto_neardup_method(400_000) == "ivf"
    assert _auto_neardup_method(10, row_threshold=5) == "ivf"


def test_embedding_near_duplicates_auto_default(spark):
    """method='auto' (the new default) matches the exact blocked generator
    below the crossover, records its decision in phase_stats, and picks
    ivf when the threshold is forced low (monkeypatched crossover — no
    giant frame needed)."""
    from graphframes_rs_spark.pipeline import dedup as dd

    v = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]
    orth = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, v), (2, near), (3, orth)], "vec_id long, embedding array<double>"
    )
    ph = []
    out = dd.embedding_near_duplicates(df, threshold=0.99, phase_stats=ph)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(1, 2)}
    assert ph[0][0] == "auto:blocked" and ph[0][1] == 3
    old = dd.AUTO_METHOD_ROW_THRESHOLD
    dd.AUTO_METHOD_ROW_THRESHOLD = 2
    try:
        ph2 = []
        out2 = dd.embedding_near_duplicates(
            df, threshold=0.99, nprobe=3, phase_stats=ph2
        )
        pairs2 = {(r["id_a"], r["id_b"]) for r in out2.collect()}
    finally:
        dd.AUTO_METHOD_ROW_THRESHOLD = old
    assert ph2[0][0] == "auto:ivf"
    # nlist='auto' resolved to max(sqrt(3),2)=2 cells; nprobe=3>=nlist
    # posts every vector to every cell -> recall 1.0 here
    assert pairs2 == {(1, 2)}


def test_ivf_topk_pins_contract(spark, embeddings):
    """Without pins, instrumentation leaves NO cached frame behind
    (unpersist-after-count); with pins, the persisted handle is handed to
    the caller for deterministic release. Results identical either way."""
    queries = embeddings.filter(F.col("vec_id") < 3)
    ph, pins = [], []
    a = similarity.ivf_topk(
        embeddings, queries, k=3, nlist=4, nprobe=4, phase_stats=ph, pins=pins
    )
    ra = {(r["query_id"], r["neighbor_id"]) for r in a.collect()}
    assert len(pins) == 1 and pins[0].storageLevel.useMemory
    pins[0].unpersist(blocking=True)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    ph2 = []
    b = similarity.ivf_topk(
        embeddings, queries, k=3, nlist=4, nprobe=4, phase_stats=ph2
    )
    rb = {(r["query_id"], r["neighbor_id"]) for r in b.collect()}
    assert ra == rb
    # no NEW instrumentation pin survives the call when pins is omitted
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before
