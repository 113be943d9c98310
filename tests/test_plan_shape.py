"""Plan-shape regression tests — the performance contracts.

Mirrors reference test layer 5 (SURVEY.md §5): the reference asserts its
checkpoint-join plans contain SortMergeJoinExec and do NOT contain
RepartitionExec/SortExec (parquet_checkpointer.rs:420-466,
hash_partitioned.rs:647-705). The Spark equivalents asserted here:

* a join of two bucketed checkpoints on their bucket keys is an SMJ with
  ZERO shuffle Exchange (bucket metadata replaces RepartitionExec);
* scans of bucketed checkpoints report ``Bucketed: true`` and push filters;
* relational queries push filters/projection into the parquet scan.
"""

import pytest
from pyspark.sql import functions as F

from graphframes_rs_spark.plans.checkpointer import ParquetCheckpointer


@pytest.fixture()
def ck(spark, tmp_path):
    c = ParquetCheckpointer(spark, str(tmp_path / "ck"))
    yield c
    c.purge()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_elides_exchange(spark, ck):
    """The per-superstep contract: state ⋈ edges with both sides bucketed
    on the join key runs as SMJ with no shuffle on either side."""
    state = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") * 2).alias("x")
    )
    edges = spark.range(0, 40_000).select(
        (F.col("id") % 10_000).alias("src"), ((F.col("id") * 7) % 10_000).alias("dst")
    )
    s = ck.push_bucketed(state, "id", 4, "state")
    e = ck.push_bucketed(edges, "src", 4, "edges")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast: at scale neither side fits; SMJ is the plan
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _executed_plan(s.join(e, s["id"] == e["src"], "inner"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_bucketed_scan_pushdown(spark, ck):
    """Filters reach the bucketed checkpoint scan. (A standalone scan with
    no join may legitimately coalesce buckets — autoBucketedScan — so only
    the join test asserts 'Bucketed: true'.)"""
    df = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    out = ck.push_bucketed(df, "id", 4, "t")
    plan = _executed_plan(out.filter(F.col("id") > 500).select("id"))
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,500)]" in plan, plan
    assert "ReadSchema: struct<id:bigint>" in plan, plan


def test_parquet_scan_prunes_columns(spark, ck):
    """Projection pruning reaches the scan: a 2-column projection must not
    read all columns (the '100 TB scan hygiene' contract)."""
    df = spark.range(0, 100).select(
        "id",
        (F.col("id") * 2).alias("a"),
        (F.col("id") * 3).alias("b"),
        (F.col("id") * 4).alias("c"),
    )
    out = ck.push(df, "wide")
    plan = _executed_plan(out.select("id", "b"))
    assert "ReadSchema: struct<id:bigint,b:bigint>" in plan, plan


def test_pregel_superstep_join_is_shuffle_free(spark, tmp_path):
    """End-to-end: with bucketed checkpoints on (the default), the Pregel
    state⋈edges triplet join itself plans with no Exchange on the state or
    edge scan side (message aggregation still shuffles — that IS delivery)."""
    from graphframes_rs_spark import GraphFrame, MessageDirection, Pregel

    v = spark.createDataFrame([(i,) for i in range(20)], "id long")
    e = spark.createDataFrame(
        [(i, (i + 1) % 20) for i in range(20)], "src long, dst long"
    )
    pregel = (
        GraphFrame(v, e)
        .pregel()
        .max_iterations(2)
        .add_vertex_column("x", F.lit(0), F.coalesce(Pregel.msg(), F.lit(0)))
        .add_message(Pregel.src("x") + 1, MessageDirection.SRC_TO_DST)
        .add_aggregate_expr(F.max(Pregel.msg()))
        .skip_dest_state()
        .set_checkpoint_dir(str(tmp_path / "ck"))
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        result = pregel.run()
        assert result.count() == 20
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_token_topk_plans_take_ordered(spark):
    """token_topk's top-k must plan as TakeOrderedAndProject (distributed
    per-partition top-k + k*p merge), NEVER a ranking window over the full
    distinct-token frame — an unpartitioned window funnels every distinct
    token through one task at corpus scale."""
    from graphframes_rs_spark.pipeline.text import token_topk

    docs = spark.createDataFrame(
        [(i, "the quick brown fox the the") for i in range(50)],
        "doc_id long, text string",
    )
    out = token_topk(docs, k=3)
    plan = _executed_plan(out)
    assert "TakeOrderedAndProject" in plan, plan
    rows = out.collect()
    assert [r["token"] for r in rows] == ["the", "brown", "fox"]
    assert [r["rank"] for r in rows] == [1, 2, 3]
    assert rows[0]["n"] == 150


def test_vocab_stats_approximate_plan(spark):
    """approximate=True must use HLL++ (approx_count_distinct): no exact-
    distinct Expand in the plan, and the estimate lands near the truth."""
    from graphframes_rs_spark.pipeline.text import vocab_stats

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i % 7} common") for i in range(200)],
        "doc_id long, text string",
    )
    exact = vocab_stats(docs).collect()[0]
    plan = _executed_plan(vocab_stats(docs, approximate=True))
    assert "approx_count_distinct" in plan, plan
    approx = vocab_stats(docs, approximate=True).collect()[0]
    assert exact["n_distinct_tokens"] == 201  # 200 tok{i} (tok0..6 reused) + common
    assert abs(approx["n_distinct_tokens"] - 201) <= 201 * 0.15
    assert approx["n_docs"] == 200 and approx["n_tokens"] == exact["n_tokens"]


def test_new_operators_plan_hygiene(spark):
    """The round-5 operators must plan with pruned scans and no
    cartesian products; tfidf's only nested-loop join is the intended
    1-row corpus-size broadcast."""
    from pyspark.sql import functions as F

    from graphframes_rs_spark.graphframe import GraphFrame
    from graphframes_rs_spark.pipeline import dedup, text

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    v = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    e = v.select(
        F.col("id").alias("src"), ((F.col("id") % 5) + 1).alias("dst")
    )
    g = GraphFrame(v, e)

    for name, df in [
        ("ngram_dup_coverage", dedup.duplicated_ngram_coverage(docs, n=2)),
        ("random_walks", g.random_walks(walk_length=2)),
        ("link_prediction", g.link_prediction()),
    ]:
        plan = _executed_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name

    tfidf_plan = _executed_plan(text.tfidf_topk_terms(docs, k=2))
    assert "CartesianProduct" not in tfidf_plan
    # exactly one BNLJ: the 1-row count broadcast (a real join key would
    # be a bug; more than one would mean an accidental cross join)
    assert tfidf_plan.count("BroadcastNestedLoopJoin") == 1


def test_motif_fast_path_plan_has_no_cartesian(spark):
    from pyspark.sql import functions as F

    from graphframes_rs_spark.graphframe import GraphFrame

    v = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    e = v.select(
        F.col("id").alias("src"), ((F.col("id") % 5) + 1).alias("dst")
    )
    g = GraphFrame(v, e)
    plan = _executed_plan(g.find("(a)-[]->(b); (b)-[]->(c); (a)-[]->(c)"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session5_operators_plan_hygiene(spark):
    """Round-5 session-3 operators: no cartesian products anywhere; the
    narrow curation ops (mixture, stratified-style hashes) must plan
    ZERO shuffles; line_dedup's first-occurrence agg must combine
    map-side (partial_min), not sort a window."""
    from pyspark.sql import functions as F

    from graphframes_rs_spark.graphframe import GraphFrame
    from graphframes_rs_spark.operators.link_prediction import (
        bipartite_projection,
    )
    from graphframes_rs_spark.operators.random_walks import (
        node2vec_walks,
        sample_neighbors,
    )
    from graphframes_rs_spark.pipeline import curation, dedup
    from graphframes_rs_spark.streaming import events as ev

    docs = spark.createDataFrame(
        [(1, "a b\nc d"), (2, "c d\ne f")], "doc_id long, text string"
    )
    v = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    e = v.select(
        F.col("id").alias("src"), ((F.col("id") % 5) + 1).alias("dst")
    )
    g = GraphFrame(v, e)
    events = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, "click", 1.0),
         (2, "2024-01-01 00:10:00", 7, "purchase", 2.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))

    for name, df in [
        ("line_dedup", dedup.line_dedup(docs)),
        ("bipartite_projection", bipartite_projection(e)),
        ("attribution", ev.attribution_join(events)),
        ("node2vec", node2vec_walks(g, walk_length=2)),
        ("sample_neighbors", sample_neighbors(g, k=2)),
        ("neighborhood_fn",
         g.neighborhood_function().max_radius(2).with_registers(2).run()),
    ]:
        plan = _executed_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name

    # line_dedup: skew-safe first-occurrence = combine-enabled min agg,
    # never a per-line row_number window
    ld_plan = _executed_plan(dedup.line_dedup(docs))
    assert "partial_min" in ld_plan
    assert "Window" not in ld_plan

    # mixture_sample: pure narrow projection — zero shuffles
    mix = curation.mixture_sample(
        docs.select("doc_id", F.lit("s").alias("stratum")),
        "stratum",
        {"s": 2.5},
    )
    assert "Exchange" not in _executed_plan(mix)

    # attribution batch face: the range predicate rides the user_id
    # equi-join (one join, no post-join cross blowup)
    at_plan = _executed_plan(ev.attribution_join(events))
    assert at_plan.count("Join") <= 2  # one join node (+AQE naming slack)


def test_asof_join_plans_no_join_operator(spark):
    """The as-of join's whole point: union-sort-carry, so the physical
    plan has a Window and NO join operator of any kind."""
    from pyspark.sql import functions as F

    from graphframes_rs_spark.pipeline.joins import asof_join

    left = spark.range(100).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("ts"),
        F.col("id").alias("x"),
    )
    right = spark.range(50).select(
        (F.col("id") % 5).alias("k"), (F.col("id") * 2).alias("ts"),
        (F.col("id") * 1.0).alias("v"),
    )
    plan = _executed_plan(asof_join(left, right, "k"))
    assert "Join" not in plan, plan
    assert "Window" in plan


def test_rollup_scans_raw_events_once(spark):
    """Coarser rollup levels re-aggregate the finer level: the raw scan
    appears once; every level beyond the first adds only HashAggregates."""
    from pyspark.sql import functions as F

    from graphframes_rs_spark.streaming import events as ev

    events = spark.range(1000).select(
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        F.lit("click").alias("event_type"),
        (F.col("id") * 1.0).alias("value"),
    )
    plan = _executed_plan(ev.hypertable_rollup(events))
    # one Range source per level would mean re-scanning raw data; the
    # plan may reuse the scan subtree per union branch, but each branch
    # must aggregate from the finer level's aggregate (3 agg "levels"),
    # pinned here by the partial/final pairs count: 3 levels x 2
    assert plan.count("HashAggregate") >= 6


def test_cms_and_feature_prop_hygiene(spark):
    from pyspark.sql import functions as F

    from graphframes_rs_spark.graphframe import GraphFrame
    from graphframes_rs_spark.pipeline import text as txt

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    sk_plan = _executed_plan(txt.token_cms(docs, width=64, depth=4))
    assert "partial_count" in sk_plan          # combine-enabled cells
    assert "CartesianProduct" not in sk_plan

    v = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    e = v.select(F.col("id").alias("src"), ((F.col("id") % 3) + 1).alias("dst"))
    feats = v.select("id", F.array(F.lit(1.0), F.lit(2.0)).alias("features"))
    fp_plan = _executed_plan(
        GraphFrame(v, e).feature_propagation(feats, rounds=1)
    )
    assert "CartesianProduct" not in fp_plan
    assert "BroadcastNestedLoopJoin" not in fp_plan


def test_chunk_documents_no_exchange(spark):
    """Chunking is a pure narrow transform: no shuffle Exchange anywhere."""
    from graphframes_rs_spark.pipeline.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    plan = _executed_plan(chunk_documents(docs, chunk_tokens=4, overlap=1))
    assert "Exchange" not in plan, plan


def test_domain_cap_single_window_shuffle(spark):
    """domain_cap = ONE window keyed on the domain: exactly one shuffle
    Exchange (hashpartitioning on the group column), no extra sorts or
    joins."""
    from graphframes_rs_spark.pipeline.curation import domain_cap

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "t") for i in range(30)],
        "doc_id long, source string, text string",
    )
    plan = _executed_plan(domain_cap(docs, cap=2))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_cohort_retention_no_window(spark):
    """Cohort retention is aggregation-only: no window operator (a global
    or per-user window would serialize event order); partial aggregation
    (map-side combine) present."""
    from graphframes_rs_spark.streaming.events import cohort_retention

    ev = spark.createDataFrame(
        [(1, "view", "2024-01-01 00:00:00")],
        "user_id long, event_type string, ts string",
    ).select("user_id", "event_type", F.col("ts").cast("timestamp"))
    plan = _executed_plan(cohort_retention(ev))
    assert "Window" not in plan, plan
    assert "partial_" in plan or "HashAggregate" in plan, plan


def test_kmeans_assign_no_exchange(spark):
    """The k-means assignment is a broadcast-literal map stage: the final
    assignment plan has NO shuffle Exchange (refreshes during iterations
    aggregate separately)."""
    from graphframes_rs_spark.pipeline.clustering import kmeans_assign

    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    plan = _executed_plan(kmeans_assign(emb, k=2, iters=1))
    assert "Exchange" not in plan, plan


def test_tpch_entries_plan_hygiene(spark):
    """The Q3/Q5-shaped entries must (a) plan their top-k as
    TakeOrderedAndProject, (b) broadcast the filtered dimension sides,
    and (c) push the date filters down to the parquet scans."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    q3 = entry.queries()["tpch_shipping"](spark, sf)
    p3 = _executed_plan(q3)
    assert "TakeOrderedAndProject" in p3, p3
    assert "BroadcastHashJoin" in p3, p3
    assert "PushedFilters" in p3 and "IsNotNull" in p3, p3

    q5 = entry.queries()["tpch_local_volume"](spark, sf)
    p5 = _executed_plan(q5)
    assert "BroadcastHashJoin" in p5, p5
    # the big lineitem⋈orders join may be SMJ or shuffled-hash — but the
    # supplier and nation⋈region sides must NOT shuffle-join
    assert p5.count("BroadcastHashJoin") >= 2, p5


def test_bm25_filters_before_group_and_takes_ordered(spark):
    """bm25_search must filter the exploded token stream to the query
    terms BEFORE the (doc, token) aggregate, and plan the final top-k as
    TakeOrderedAndProject."""
    from graphframes_rs_spark.pipeline.text import bm25_search

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(20)],
        "doc_id long, text string",
    )
    out = bm25_search(docs, ["alpha"], k=5)
    plan = _executed_plan(out)
    assert "TakeOrderedAndProject" in plan, plan
    # array_contains filter applies pre-aggregate (appears in a Filter or
    # Generate stage, not after HashAggregate). With the r15 materialize
    # pin the tf generation subtree lives behind a localCheckpoint scan,
    # so assert the generation-shape contract on the LAZY plan — and that
    # the pinned default returns the same rows.
    lazy = bm25_search(docs, ["alpha"], k=5, materialize=False)
    lazy_plan = _executed_plan(lazy)
    assert "array_contains" in lazy_plan, lazy_plan
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, lazy.collect())
    )


def test_louvain_neighbour_join_is_shuffle_free(spark, tmp_path):
    """Louvain's per-round hot join, as _move_round actually builds it:
    adj ⋈ ntot on the neighbour endpoint, where ntot = nodes ⋈ community
    totals on comm. The ntot side is necessarily re-placed by the comm
    groupBy/join (that IS the totals lookup), so the contract here is
    one-sided: the ADJ scan side must plan with zero Exchange off its
    bucketed checkpoint. Pinned differentially — the same query over a
    NON-bucketed adj pays exactly one more Exchange (the adj-side
    repartition the bucketing elides)."""
    ck = ParquetCheckpointer(spark, str(tmp_path / "lv"))
    adj = spark.range(0, 40_000).select(
        (F.col("id") % 10_000).alias("v"),
        ((F.col("id") * 7) % 10_000).alias("u"),
        F.lit(1.0).alias("w"),
    )
    nodes = spark.range(0, 10_000).select(
        F.col("id").alias("v"), F.col("id").alias("comm"), F.lit(2.0).alias("k")
    )
    a = ck.push_bucketed(adj, "u", 4, "adj")
    a_flat = ck.push(adj, "adj_flat")  # same data, no bucket metadata
    n = ck.push_bucketed(nodes, "v", 4, "nodes")

    def hot_join(adj_side):
        # mirror of louvain._move_round: ntot = nodes ⋈ tot on comm,
        # then adj ⋈ ntot(v→u, comm→uc, tot→tot_c) on u
        tot = n.groupBy("comm").agg(F.sum("k").alias("tot"))
        ntot = n.join(tot, "comm")
        return adj_side.join(
            ntot.select(
                F.col("v").alias("u"),
                F.col("comm").alias("uc"),
                F.col("tot").alias("tot_c"),
            ),
            "u",
        )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _executed_plan(hot_join(a))
        plan_flat = _executed_plan(hot_join(a_flat))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    ck.purge()
    assert "SortMergeJoin" in plan
    # adj-side bucketing elides exactly the adj repartition; the ntot
    # side's comm-placement exchanges are identical in both plans
    assert plan.count("Exchange") == plan_flat.count("Exchange") - 1, (
        plan, plan_flat,
    )
    assert "Bucketed: true" in plan, plan


def test_exact_substr_plan_shape(spark):
    """exact_substr_spans' audited plan (r12): the dup-position stream
    reaches the island merge through ONE exchange on doc_id — both
    windows (lag + running sum) and the final (doc_id, island) aggregate
    reuse that partitioning — and the gram-frequency side is one
    map-side-combined aggregate. No cartesian anywhere; the final
    HashAggregate pair must NOT be separated by an Exchange."""
    from graphframes_rs_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [(1, "abcdefghij" * 4), (2, "abcdefghij" * 4), (3, "unique text")],
        "doc_id long, text string",
    )
    df = dedup.exact_substr_spans(docs, min_len=10)
    df.collect()  # settle AQE so executedPlan is final
    plan = _executed_plan(df)
    # AdaptiveSparkPlan's toString appends the pre-AQE "Initial Plan"
    # section — keep only the final plan or every operator double-counts
    if "== Initial Plan ==" in plan:
        plan = plan[: plan.index("== Initial Plan ==")]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one exchange on doc_id feeds the island merge...
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    # ...and the final aggregate pair sits ABOVE the windows (children
    # print after parents) with no exchange between: the text before the
    # first Window operator is the partial+final agg region
    head = plan[: plan.index("Window")]
    assert head.count("HashAggregate") == 2, plan
    assert "Exchange" not in head, plan
    assert plan.count("Window") == 2, plan


def test_exact_substr_keepfirst_plan_shape(spark):
    """The keep_first branch's r14 plan contract: the sweep generates
    both endpoint events from ONE pass over the marked frame (explode,
    never a self-union — the union made the dup join + gram-frequency
    aggregate execute once per branch), and with materialize=True the
    dup stream is pinned, so the canonical-occurrence struct-min
    aggregate appears exactly once (one partial+final pair) and the
    gram-frequency aggregate is behind the pin, not re-planned."""
    from graphframes_rs_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [(1, "abcdefghij" * 4), (2, "abcdefghij" * 4), (3, "unique text")],
        "doc_id long, text string",
    )
    df = dedup.exact_substr_spans(docs, min_len=10, keep_first=True)
    df.collect()  # settle AQE so executedPlan is final
    plan = _executed_plan(df)
    if "== Initial Plan ==" in plan:
        plan = plan[: plan.index("== Initial Plan ==")]
    assert "Union" not in plan, plan
    assert "Generate explode" in plan, plan
    # exactly one struct-min aggregate pair (partial+final) for the
    # canonical occurrence — the pre-r14 plan carried two, one per
    # consumer of `marked`
    assert plan.count("SortAggregate") + plan.count(
        "ObjectHashAggregate"
    ) == 2, plan
    # the rest is identical across materialize modes (row-level pin)
    rows_pinned = sorted(map(tuple, df.collect()))
    rows_lazy = sorted(
        map(
            tuple,
            dedup.exact_substr_spans(
                docs, min_len=10, keep_first=True, materialize=False
            ).collect(),
        )
    )
    assert rows_pinned == rows_lazy


def test_minhash_index_path_reads_parquet_not_recompute(spark, tmp_path):
    """The whole point of a persisted MinHashIndex: a batch query's plan
    must SCAN the index parquet (banded + shingles) and must NOT contain
    the corpus-side signature pipeline. The corpus pipeline's signature
    in a plan is its md5 projection (hash60 is md5-based) — the indexed
    plan may contain exactly the BATCH side's one, never two; and both
    index dirs must appear as FileScans."""
    from graphframes_rs_spark.pipeline import dedup

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} aa bb cc dd ee ff") for i in range(6)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, "corpus doc 3 aa bb cc dd ee ff")], "doc_id long, text string"
    )
    path = str(tmp_path / "mh_plan_idx")
    idx = dedup.minhash_index(corpus, checkpoint_dir=path)
    df = dedup.dedup_against_index(new, idx, threshold=0.1)
    df.collect()  # settle AQE
    # both persisted index tables are scanned from disk (inputFiles is
    # immune to plan-string truncation, unlike executedPlan().toString())
    files = df.inputFiles()
    assert any("/banded/" in f for f in files), files
    assert any("/shingles/" in f for f in files), files
    plan = _executed_plan(df)
    if "== Initial Plan ==" in plan:
        plan = plan[: plan.index("== Initial Plan ==")]
    # the md5-based shingle/minhash pipeline appears at most ONCE (the
    # batch's own narrow map) — twice would mean the corpus is being
    # re-hashed despite the index
    assert plan.count("md5") <= 1, plan
    # still no cartesian / nested-loop anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_r15_materialize_pins_single_generation_pass(spark):
    """r15 plan contract for the two-consumer pins (guide §2.4): with the
    default materialize=True the corpus generation pass (tokenize +
    explode) runs exactly once — the executed plan consumes a checkpoint
    scan, zero Generate nodes — while the lazy plan re-plans the
    generation subtree once per consumer. Rows identical either way.
    Covers tfidf_topk_terms (the r14 ReusedExchange-eligibility claim was
    WRONG: the dfreq branch column-prunes into a different subtree, so
    without the pin the explode executes twice) and the word-gram pair
    duplicated_ngram_coverage / strip_duplicated_spans."""
    from graphframes_rs_spark.pipeline import dedup, text

    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{(i * 3) % 7} common word here w{i % 3} x y")
         for i in range(40)],
        "doc_id long, text string",
    )

    # tfidf: pinned default -> no Generate in the final plan (the one
    # generation pass ran inside the eager localCheckpoint); lazy -> >= 2
    pinned = text.tfidf_topk_terms(docs, k=2)
    pinned.collect()
    plan = _executed_plan(pinned)
    if "== Initial Plan ==" in plan:
        plan = plan[: plan.index("== Initial Plan ==")]
    assert plan.count("Generate explode") == 0, plan
    lazy = text.tfidf_topk_terms(docs, k=2, materialize=False)
    lazy.collect()
    lazy_plan = _executed_plan(lazy)
    if "== Initial Plan ==" in lazy_plan:
        lazy_plan = lazy_plan[: lazy_plan.index("== Initial Plan ==")]
    assert lazy_plan.count("Generate explode") >= 2, lazy_plan
    assert sorted(map(tuple, pinned.collect())) == sorted(
        map(tuple, lazy.collect())
    )

    # word-gram pair: the DEFAULT is lazy (r15 measured the pin 4-10x
    # slower than recomputing the cheap narrow gram map at every tier —
    # see duplicated_ngram_coverage's docstring); materialize=True still
    # works and consumes the gram stream from the checkpoint (coverage: 0
    # gram posexplodes, strip keeps exactly 1 — its separate token
    # rebuild). Rows identical either way.
    for fn, n_pinned, n_lazy in (
        (dedup.duplicated_ngram_coverage, 0, 2),
        (dedup.strip_duplicated_spans, 1, 3),
    ):
        lz = fn(docs, n=2)  # default IS lazy
        lz.collect()
        lp = _executed_plan(lz)
        if "== Initial Plan ==" in lp:
            lp = lp[: lp.index("== Initial Plan ==")]
        assert lp.count("Generate posexplode") >= n_lazy, (fn.__name__, lp)
        p = fn(docs, n=2, materialize=True)
        p.collect()
        pp = _executed_plan(p)
        if "== Initial Plan ==" in pp:
            pp = pp[: pp.index("== Initial Plan ==")]
        assert pp.count("Generate posexplode") == n_pinned, (fn.__name__, pp)
        assert sorted(map(tuple, p.collect())) == sorted(
            map(tuple, lz.collect())
        ), fn.__name__
