"""Text-analysis operators for LLM training-data pipelines.

All hot-path logic is JVM-side ``pyspark.sql.functions`` / SQL
higher-order functions — no Python UDFs — so whole-stage codegen applies
and the operators scale linearly with executors. Every operator is
expressible in ANSI SQL (see ``__spark_entry__.oracle_sql``), which the
DuckDB oracle cross-checks. (Single exception: ``bpe_encode``'s merge
replay is an Arrow-batched pandas UDF over the DISTINCT-WORD frame —
vocabulary-bounded work, never per-corpus-token Python.)

Design notes for oracle parity (values must hash-match DuckDB):
  * rolling hashes use modulus 1e9+7 with base 31 — intermediates stay
    < 2^63 so ANSI-mode Spark never overflows;
  * 64-bit "hashes" are the first 15 hex digits of md5 (60 bits, fits a
    signed long) — both engines compute identical md5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small multilingual stopword marker sets for the language-ID heuristic.
# Deliberately tiny (deterministic, SQL-embeddable); a production pipeline
# would swap in fastText or a trigram model behind the same operator.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "dans"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "con"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["a", "an", "for", "on", "with", "as", "by"]

MOD = 1_000_000_007
BASE = 31


def tokens(col: Column) -> Column:
    """Whitespace tokenization (split on single spaces — the corpus
    convention; swap for ``\\s+`` regex split for messier corpora)."""
    return F.split(col, " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: words + digit runs + punctuation marks,
    approximating a BPE tokenizer's granularity without a vocab."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def alpha_ratio(col: Column) -> Column:
    """Fraction of characters that are ASCII letters or spaces."""
    return F.length(F.regexp_replace(col, r"[^A-Za-z ]", "")) / F.length(col)


def stopword_ratio(col: Column) -> Column:
    toks = tokens(F.lower(col))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def mean_word_length(col: Column) -> Column:
    toks = tokens(col)
    return F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ) / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality score: length band + alpha ratio + stopword
    presence + sane mean word length. A linear, fully-SQL heuristic in the
    spirit of Gopher/C4 quality rules."""
    n_chars = F.length(col)
    length_ok = F.when((n_chars >= 50) & (n_chars <= 10000), 1.0).otherwise(0.0)
    alpha = alpha_ratio(col)
    stop = stopword_ratio(col)
    mwl = mean_word_length(col)
    mwl_ok = F.when((mwl >= 3) & (mwl <= 10), 1.0).otherwise(0.0)
    return F.round(
        0.25 * length_ok + 0.35 * alpha + 0.2 * F.least(stop * 5, F.lit(1.0)) + 0.2 * mwl_ok,
        6,
    )


def language_id(col: Column) -> Column:
    """Marker-word language heuristic: score = marker hits per language,
    argmax with deterministic tie-break (highest score, then language name);
    'und' (undetermined) when nothing matches."""
    toks = tokens(F.lower(col))
    def marker_hits(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = {lang: marker_hits(words) for lang, words in LANG_MARKERS.items()}
    mx = F.greatest(*scores.values())
    # explicit priority chain (alphabetical) so ties break identically in
    # any engine's CASE evaluation order
    expr = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        expr = F.when(scores[lang] == mx, F.lit(lang)).otherwise(expr)
    return F.when(mx > 0, expr).otherwise(F.lit("und"))


def rolling_hash(col: Column) -> Column:
    """Polynomial rolling hash of the raw characters:
    ``h = fold(h*31 + ord(ch)) mod 1e9+7`` — the document fingerprint."""
    chars = F.split(col, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * BASE + F.ascii(ch)) % MOD,
    )


URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"


def url_count(col: Column) -> Column:
    """Number of http(s) URLs in the text (pre-dedup/PII signal)."""
    return F.size(F.regexp_extract_all(col, F.lit(URL_RE), 0)).cast("long")


def email_count(col: Column) -> Column:
    """Number of email-shaped tokens in the text (PII signal)."""
    return F.size(F.regexp_extract_all(col, F.lit(EMAIL_RE), 0)).cast("long")


def normalize_text(col: Column) -> Column:
    """Canonical dedup-key form: lowercase, collapse whitespace runs, trim.
    Exact dedup over ``md5(normalize_text(text))`` catches
    case/whitespace-only near-copies that raw ``content_hash`` misses."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def content_hash(col: Column) -> Column:
    """128-bit content hash as hex (exact-dedup key)."""
    return F.md5(col)


def hash60(col: Column) -> Column:
    """First 60 bits of md5 as a signed long — cross-engine 64-bit-ish
    string hash (DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def vocab_stats(
    docs: DataFrame, text_col: str = "text", approximate: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """One-row corpus vocabulary summary: [n_docs, n_tokens, n_distinct_tokens].

    ``approximate=False`` (default, oracle-checked): exact ``countDistinct``
    — one explode + distinct-agg shuffle. ``approximate=True`` is the
    100 TB path: HLL++ ``approx_count_distinct`` (relative error ``rsd``)
    combines map-side and never materializes the distinct-token frame, so
    the exact-distinct Expand/re-shuffle disappears from the plan."""
    tok = docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("t"))
    distinct = (
        F.approx_count_distinct("t", rsd) if approximate else F.countDistinct("t")
    )
    return docs.select(
        F.count(F.lit(1)).alias("n_docs"),
    ).crossJoin(
        tok.agg(
            F.count(F.lit(1)).alias("n_tokens"),
            distinct.alias("n_distinct_tokens"),
        )
    )


def token_topk(docs: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """[token, n, rank] the k most frequent lowercase tokens (deterministic
    tie-break on token). The heavy-hitter query: one explode, one combine-
    enabled groupBy, then ``orderBy(...).limit(k)`` which Spark plans as
    ``TakeOrderedAndProject`` — a distributed per-partition top-k with a
    k·num_partitions driver merge. A web-scale corpus has 10^8-10^9
    distinct tokens; an unpartitioned ranking window would sort all of
    them in ONE task, while this shape never moves more than k rows per
    partition. ``rank`` is derived by a window over the <= k survivors
    (bounded, single tiny partition by construction)."""
    from pyspark.sql.window import Window

    counts = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.select(
        "token", "n", F.row_number().over(w).cast("long").alias("rank")
    )


def analyze_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text-analysis projection over a documents table."""
    c = F.col(text_col)
    return docs.select(
        "doc_id",
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        F.round(alpha_ratio(c), 6).alias("alpha_ratio"),
        F.round(stopword_ratio(c), 6).alias("stopword_ratio"),
        quality_score(c).alias("quality"),
        language_id(c).alias("lang_pred"),
        rolling_hash(c).alias("fingerprint"),
    )


def scrub_pii(col: Column) -> Column:
    """Text with URLs and email addresses replaced by placeholder tokens —
    the standard pre-training redaction pass. URLs are scrubbed first so an
    address embedded in a query string is swallowed by the <URL> token,
    matching the counting semantics of url_count/email_count."""
    no_urls = F.regexp_replace(col, URL_RE, "<URL>")
    return F.regexp_replace(no_urls, EMAIL_RE, "<EMAIL>")


def pii_scrub_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """[doc_id, clean_hash, n_urls, n_emails]: md5 of the scrubbed text plus
    redaction counts. Pure JVM expressions — one narrow projection, no
    shuffle, trivially scale-parallel."""
    c = F.col(text_col)
    return docs.select(
        "doc_id",
        F.md5(scrub_pii(c)).alias("clean_hash"),
        url_count(c).alias("n_urls"),
        email_count(c).alias("n_emails"),
    )


def pack_documents(
    docs: DataFrame,
    text_col: str = "text",
    cap_tokens: int = 2048,
    shards: int = 16,
    greedy: bool = False,
) -> DataFrame:
    """[doc_id, shard, bin, n_tokens]: sequence-packing plan — documents
    are assigned to token-budget bins (training context windows) in doc_id
    order.

    Two binning modes:
      * default (SQL-expressible, oracle-checked): ``bin = floor(
        starting_offset / cap_tokens)`` — a START-OFFSET bucket. A
        document that straddles a cap boundary stays in the bin it starts
        in, so a bin's total may OVERFLOW the cap by up to one document
        (and a document longer than ``cap_tokens`` occupies one bin alone);
        the consumer truncates or splits at the cap.
      * ``greedy=True`` (Arrow ``applyInPandas`` per shard): a bin closes
        BEFORE it would exceed ``cap_tokens``, so no multi-document bin
        ever exceeds the cap — only a single document longer than the cap
        does. This is the packer a trainer wants when truncation is not
        acceptable; sequential by nature, hence per-shard pandas, not SQL.

    Scale design: packing is per-SHARD (doc_id mod ``shards``), so both
    the running-sum window and the greedy fold partition by shard and
    parallelize — a single global ordered pass would funnel 100 TB
    through one task. Bins from different shards are independent (a
    trainer consumes shards in parallel anyway); raise ``shards`` with
    the cluster, it only changes which bin a document lands in, never a
    bin's token bound."""
    from pyspark.sql.window import Window

    n_tok = token_count(F.col(text_col))
    with_shard = docs.select(
        "doc_id",
        (F.col("doc_id") % shards).alias("shard"),
        n_tok.alias("n_tokens"),
    )
    if greedy:
        import pandas as pd

        cap = cap_tokens

        def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
            pdf = pdf.sort_values("doc_id").reset_index(drop=True)
            bins, b, acc = [], 0, 0
            for t in pdf["n_tokens"]:
                if acc > 0 and acc + int(t) > cap:
                    b, acc = b + 1, 0
                bins.append(b)
                acc += int(t)
            pdf["bin"] = pd.Series(bins, dtype="int64")
            return pdf[["doc_id", "shard", "bin", "n_tokens"]]

        return with_shard.groupBy("shard").applyInPandas(
            pack, "doc_id long, shard long, bin long, n_tokens int"
        )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return with_shard.select(
        "doc_id",
        "shard",
        F.floor((cum - F.col("n_tokens")) / F.lit(float(cap_tokens))).alias("bin"),
        "n_tokens",
    )


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated ONCE per row: Spark does
    not share subexpressions into higher-order-function lambdas, so an
    array expression referenced inside a lambda is re-evaluated for every
    element. Binding it as a lambda variable (a one-element ``transform``)
    evaluates it once and hands the lambda a plain reference."""
    return F.transform(F.array(value), body)[0]


def _bigram_count_exprs(col: Column):
    """(total_bigrams, top_count, once_count) column triple over the token
    bigrams of ``col`` — the shared per-row core of the repetition filters
    (everything stays inside one row; no explode, no shuffle). The token
    and bigram arrays are bound with :func:`_let`, so counting costs
    O(d·b) comparisons, not a re-split per bigram and per distinct one."""
    bigrams = _let(
        tokens(col),
        lambda toks_: F.when(
            F.size(toks_) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks_) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks_, i), F.element_at(toks_, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    counts = _let(
        bigrams,
        lambda bg: F.transform(
            F.array_distinct(bg),
            lambda d: F.size(F.filter(bg, lambda x: x == d)),
        ),
    )
    total_bg = F.size(bigrams)
    top = F.coalesce(F.array_max(counts), F.lit(0))
    once = F.size(F.filter(counts, lambda c: c == F.lit(1)))
    return total_bg, top, once


def top_bigram_frac(col: Column) -> Column:
    """Most-frequent-bigram occurrence fraction (0.0 for < 2 tokens),
    rounded to 6 — the single-metric form of :func:`repetition_stats` for
    inlining into wider curation projections."""
    total_bg, top, _ = _bigram_count_exprs(col)
    safe_total = F.when(total_bg > 0, total_bg.cast("double"))
    return F.coalesce(F.round(top / safe_total, 6), F.lit(0.0))


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """[doc_id, n_tokens, distinct_token_ratio, top_bigram_frac,
    dup_bigram_frac]: Gopher-style repetition quality filters (Rae et al.
    2021 drop documents whose most frequent n-gram or duplicated n-gram
    mass exceeds a threshold — boilerplate and spam are repetitive in
    exactly this way).

    * ``distinct_token_ratio`` — |distinct tokens| / |tokens|
    * ``top_bigram_frac`` — occurrences of the most frequent bigram /
      total bigram occurrences
    * ``dup_bigram_frac`` — occurrences of bigrams appearing more than
      once / total bigram occurrences

    Scale design: all three are per-row higher-order-function expressions
    over the token array — a NARROW projection that composes with the
    scan, no explode, no shuffle, nothing leaves the row (the
    explode+groupBy formulation would shuffle the corpus' entire bigram
    stream to compute a per-doc scalar). The distinct-bigram counting
    loop is O(d·b) per doc (d = distinct bigrams); for multi-MB documents
    switch to the exploded form — for web-scale corpora of ordinary docs
    this shape is strictly better. Ratios rounded to 6 for bit-exact
    SQL-oracle parity; single-token docs have no bigrams => both bigram
    fracs are 0.0."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    total_bg, top, once = _bigram_count_exprs(F.col(text_col))
    safe_total = F.when(total_bg > 0, total_bg.cast("double"))
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks)) / n, 6).alias(
            "distinct_token_ratio"
        ),
        F.coalesce(F.round(top / safe_total, 6), F.lit(0.0)).alias(
            "top_bigram_frac"
        ),
        F.coalesce(
            F.round((total_bg - once) / safe_total, 6), F.lit(0.0)
        ).alias("dup_bigram_frac"),
    )


def tfidf_topk_terms(
    docs: DataFrame, k: int = 5, text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """[doc_id, token, tf, dfreq, tfidf, rank] — each document's ``k``
    highest-TF-IDF tokens: the per-document keyword signal used for
    topic tagging, clustering features, and near-dup triage.
    ``tfidf = tf * ln(N / dfreq)`` (raw term count x inverse document
    frequency over the corpus), rounded to 6 before ranking so the sort
    key (and therefore the rank) is identical across engines; ties break
    on token.

    Scale design: three shuffles, all combine-enabled or bounded —
    per-(doc, token) counts, per-token document frequency, and a window
    partitioned BY DOCUMENT (each partition holds one doc's distinct
    tokens — bounded by doc length, never corpus-sized; compare
    ``token_topk``'s note on unpartitioned windows). The corpus size N
    rides a 1-row broadcast, not a driver-side count action.

    ``materialize`` (default True) pins the per-(doc, token) count with
    an eager ``localCheckpoint``: ``tf`` has two consumers (the document-
    frequency aggregate and the scoring join) and the optimizer
    column-prunes the dfreq branch into a DIFFERENT subtree (a distinct-
    style aggregate without the count), so the two exchanges are NOT
    ReusedExchange-eligible and the corpus tokenize+explode pass executed
    once per consumer (plan-verified r15 — the r14 reuse-eligibility
    claim was wrong). The pin makes
    the generation pass run exactly once; dfreq stays a combine-enabled
    groupBy (skew-safe for hot tokens — a token-partitioned window would
    buffer a corpus-scale partition per hot token at 100 TB). False =
    pure lazy plan."""
    tf = (
        docs.select(
            "doc_id",
            F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if materialize:
        # eager, not lazy/persist: the two consumers are a join's
        # independent children and would race a lazy cache
        tf = tf.localCheckpoint()
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    total = docs.agg(F.count(F.lit(1)).alias("__n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "token",
            "tf",
            "dfreq",
            F.round(
                F.col("tf") * F.log(F.col("__n_docs") / F.col("dfreq")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def token_cms(
    docs: DataFrame,
    text_col: str = "text",
    width: int = 1024,
    depth: int = 4,
    seed: int = 42,
) -> DataFrame:
    """[d, col, cnt] — a Count-Min sketch of corpus token frequencies
    (Cormode & Muthukrishnan, J. Algorithms'05) materialized as a
    DataFrame: ``depth`` hash rows x ``width`` columns, each cell the
    count of token occurrences hashing to it. The sketch is
    ``depth * width`` rows regardless of vocabulary size — at 100 TB it
    replaces an unbounded-cardinality token groupBy with a bounded one
    (the shuffle key space is the cell grid), at the cost of
    overestimates bounded by e * total / width with probability
    1 - e^-depth.

    Deterministic (md5-based cell hashes): two corpus halves' sketches
    merge by summing cells, and an engine-independent replay (the DuckDB
    oracle) reproduces every cell exactly."""
    if width < 2 or depth < 1:
        raise ValueError("width must be >= 2 and depth >= 1")
    tok = docs.select(
        F.explode(tokens(F.col(text_col))).alias("token")
    )
    rows = tok.select(
        "token",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
    ).select(
        "d",
        F.pmod(
            hash60(F.concat_ws("|", F.col("d"), F.col("token"), F.lit(seed))),
            F.lit(width),
        ).alias("col"),
    )
    return rows.groupBy("d", "col").agg(F.count(F.lit(1)).alias("cnt"))


def token_cms_estimate(
    sketch: DataFrame,
    tokens_df: DataFrame,
    token_col: str = "token",
    width: int = 1024,
    depth: int = 4,
    seed: int = 42,
) -> DataFrame:
    """[token, est_count] — point-query the sketch for each row of
    ``tokens_df``: min over the ``depth`` cells the token hashes to
    (missing cell = 0). One equi-join on (d, col) against the
    bounded-size sketch (broadcastable: depth x width rows), then a
    combine-enabled min."""
    cand = tokens_df.select(F.col(token_col).alias("token")).distinct()
    cells = cand.select(
        "token",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
    ).select(
        "token",
        "d",
        F.pmod(
            hash60(F.concat_ws("|", F.col("d"), F.col("token"), F.lit(seed))),
            F.lit(width),
        ).alias("col"),
    )
    return (
        cells.join(F.broadcast(sketch), ["d", "col"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


def length_percentiles(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    probs: tuple = (0.25, 0.5, 0.75, 0.9, 0.99),
    approximate: bool = False,
) -> DataFrame:
    """Per-group token-length distribution — the length dashboard a
    curation run reads before setting truncation/packing dials:

      [<group_col>, n_docs, mean_tokens, p<25/50/75/90/99>_tokens, max_tokens]

    Exact mode uses Spark's ``percentile`` (linear-interpolated, the
    same definition as ANSI ``percentile_cont``), which buffers each
    group's values on the agg side — fine up to ~10^8 rows per group.
    At 100 TB set ``approximate=True``: ``percentile_approx`` (a
    KLL-style mergeable sketch, map-side combined) holds per-group state
    at a few KB regardless of group size, with rank error ~1/accuracy."""
    c = token_count(F.col(text_col)).cast("long")
    plist = ", ".join(str(p) for p in probs)
    fn = "percentile_approx" if approximate else "percentile"
    acc = ", 10000" if approximate else ""
    pcts = F.expr(f"{fn}(__tok, array({plist}){acc})")
    base = docs.select(F.col(group_col), c.alias("__tok"))
    out = base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("__tok"), 6).alias("mean_tokens"),
        pcts.alias("__p"),
        F.max("__tok").alias("max_tokens"),
    )
    cols = [F.col(group_col), "n_docs", "mean_tokens"]
    for i, p in enumerate(probs):
        name = f"p{int(p * 100)}_tokens"
        pc = F.col("__p")[i]
        cols.append((F.round(pc, 6) if not approximate else pc.cast("double")).alias(name))
    cols.append("max_tokens")
    return out.select(*cols)


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[<id_col>, chunk_id, chunk_text, n_tokens] — split each document
    into fixed-size token windows with overlap, the standard pre-training
    / RAG chunking step. Chunk i covers tokens [i·stride, i·stride +
    chunk_tokens) with stride = chunk_tokens − overlap; the last chunk is
    the remainder (shorter, never empty), and a doc at or under
    ``chunk_tokens`` yields exactly one chunk of itself.

    Scale shape: a pure narrow transform — tokenize once, explode a
    per-doc index sequence, slice from the SAME token array; no shuffle
    at all (chunks stay co-partitioned with their documents, so a
    downstream ``repartition`` decides layout exactly once)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # number of chunks: 1 + ceil(max(n - chunk_tokens, 0) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - F.lit(chunk_tokens), F.lit(0)) / F.lit(stride)
    ).cast("int")
    with_toks = docs.select(
        F.col(id_col), toks.alias("__toks"), n_chunks.alias("__nc")
    )
    exploded = with_toks.select(
        id_col,
        "__toks",
        F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def grouped_token_topk(
    docs: DataFrame,
    group_col: str = "source",
    k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """[<group_col>, token, n, rank] — the k most frequent lowercase
    tokens per group (deterministic tie-break on token): per-domain
    vocabulary dashboards, per-language stopword candidates.

    Scale shape: one explode + one combine-enabled groupBy on
    (group, token), then a rank window PARTITIONED BY THE GROUP — unlike
    a global top-k (see :func:`token_topk`'s TakeOrderedAndProject note)
    the per-group ranking parallelizes across groups, and each group's
    sort holds only its own distinct tokens."""
    from pyspark.sql.window import Window

    counts = (
        docs.select(
            F.col(group_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .groupBy(group_col, "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """[doc_id, score, rank] — the corpus's ``k`` best documents for a
    bag-of-words query under Okapi BM25 (Robertson & Walker, SIGIR'94):

        score(d) = Σ_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
        idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))

    with dl = the document's FULL token count (not just query terms) and
    avgdl its corpus mean. Scores round to 6 places before ranking so the
    ordering is engine-stable; ties break on doc_id.

    Scale shape: the per-(doc, term) counts filter to the query's terms
    BEFORE the groupBy — the only corpus-wide aggregates are the per-doc
    length (a narrow map over the already-scanned text column) and two
    1-row broadcasts (N + avgdl). df per query term is a tiny aggregate
    over the filtered tf table. The final top-k is ``orderBy().limit(k)``
    (plans as TakeOrderedAndProject — per-partition top-k, no global
    sort at 100 TB) with the rank window applied only to the <= k
    survivors.

    ``materialize`` (default True) pins the query-term tf table (tiny:
    <= |query_terms| rows per doc) with an eager ``localCheckpoint`` —
    its two consumers (per-term df aggregate + scoring join) otherwise
    each re-run the corpus-scale tokenize + explode + filter pass
    (same shape as tfidf_topk_terms; guide §2.4). False = lazy plan."""
    terms = F.array(*[F.lit(t) for t in query_terms])
    base = docs.select(
        "doc_id",
        token_count(F.col(text_col)).cast("double").alias("dl"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    tf = (
        base.select(
            "doc_id", "dl", F.explode("__toks").alias("token")
        )
        .filter(F.array_contains(terms, F.col("token")))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if materialize:
        tf = tf.localCheckpoint()
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfq"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("dfq") + 0.5)
                    / (F.col("dfq") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    from pyspark.sql.window import Window

    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.select(
        "doc_id", "score", F.row_number().over(w).cast("long").alias("rank")
    )


_ENTITY_MAP = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST: so "&amp;lt;" decodes to "&lt;" not "<"
]


def strip_markup(col: Column) -> Column:
    """Plain text from HTML-ish markup: drop tags (``<...>`` spans without
    an embedded ``<``/``>``, so stray comparison operators survive), decode
    the six common entities (``&amp;`` LAST — double-encoded entities
    decode one level per pass, the standard behavior), and collapse runs
    of whitespace. Pure JVM-side regexp_replace chain — whole-stage
    codegen keeps it in the scan stage at ingest scale; the regexes use
    only RE2-safe constructs so the DuckDB oracle is bit-identical."""
    out = F.regexp_replace(col, r"<[^<>]*>", " ")
    for ent, rep in _ENTITY_MAP:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out


def token_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """[doc_id, n_tokens, entropy] — within-document token Shannon entropy
    (natural log): H = ln(n) - Σ c·ln(c) / n over the doc's token counts.
    The repetitiveness dual of :func:`repetition_stats` — near-zero entropy
    means the document is one token stamped n times (boilerplate, padding,
    scraper failure), the strongest single-column junk signal after length.

    Scale shape: explode → combine-enabled groupBy(doc_id, token) →
    combine-enabled groupBy(doc_id) with the algebraic identity above, so
    the per-doc distribution never materializes as a map — two shuffles,
    both partial-aggregated map-side."""
    counts = (
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col(text_col)))).alias("t")
        )
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.round(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"), 6
        ).alias("entropy"),
    )


def build_vocab(
    docs: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """[token, n, token_id] — frequency-ranked vocabulary: token_id 0 is
    the most frequent token, ties break lexicographically (fully
    deterministic across engines and partitionings — a vocab whose ids
    drift between builds silently corrupts every downstream shard).

    Scale note: the id assignment is a GLOBAL rank over the vocabulary —
    inherently one ordered pass. That is fine: the heavy work (the corpus
    explode + count) is combine-enabled and fully parallel; what reaches
    the rank is one row per DISTINCT token (10^5–10^6 for real corpora
    after ``min_count``), orders of magnitude smaller than the corpus."""
    from pyspark.sql.window import Window

    counts = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return counts.select(
        "token", "n", (F.row_number().over(w) - 1).cast("long").alias("token_id")
    )


def encode_documents(
    docs: DataFrame, vocab: DataFrame, text_col: str = "text",
    unk_id: int = -1,
) -> DataFrame:
    """[doc_id, n_tokens, token_ids] — each document as its vocabulary-id
    sequence (position order preserved; out-of-vocab tokens become
    ``unk_id``). The tokenize→shard step of a pre-training pipeline.

    Scale shape: posexplode → broadcast-or-shuffle join on token (Spark
    picks; vocabs usually broadcast) → one groupBy(doc_id) reassembling
    the sequence via sort_array(collect_list(struct(pos, id))) — the only
    wide state is each doc's own token list, bounded by document length."""
    pos = docs.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("pos", "token"),
    )
    joined = pos.join(vocab.select("token", "token_id"), "token", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("pos"),
                            F.coalesce("token_id", F.lit(unk_id)).alias("tid"),
                        )
                    )
                ),
                lambda s: s["tid"],
            ).alias("token_ids"),
        )
    )


def bigram_lm_score(
    docs: DataFrame, text_col: str = "text", add_k: float = 0.5
) -> DataFrame:
    """[doc_id, n_bigrams, avg_logprob] — each document scored under the
    CORPUS's own add-k-smoothed bigram model:

        P(w2 | w1) = (c(w1 w2) + k) / (c(w1·) + k·V)

    where c(w1 w2) counts the bigram corpus-wide, c(w1·) counts bigrams
    starting with w1, and V is the unigram vocabulary size.
    avg_logprob = mean ln P over the document's bigrams — the cheap
    perplexity proxy: text that looks nothing like the corpus (wrong
    language, mojibake, boilerplate) scores far below the corpus mode.
    Single-token documents emit n_bigrams = 0 with avg_logprob = 0.

    Scale shape: one positional bigram explode feeding BOTH the corpus
    counts and the per-doc scoring (Spark reuses the exchange), two
    combine-enabled count aggregates, a 1-row broadcast for V, and one
    join from doc-bigrams to the (bounded-by-vocabulary²,
    realistically ≪) corpus bigram table."""
    toks = tokens(F.lower(F.col(text_col)))
    # n-1 bigrams via two offset slices zipped (empty-safe: a 1-token doc
    # slices to two empty arrays; F.sequence would auto-step BACKWARD on
    # a start > stop and fabricate pairs)
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    grams = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(toks, 1, m),
                F.slice(toks, 2, m),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    big_counts = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    w1_counts = big_counts.groupBy("w1").agg(F.sum("cb").alias("cw1"))
    vocab_n = docs.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("t")
    ).agg(F.count_distinct("t").alias("v"))

    scored = (
        grams.join(big_counts, ["w1", "w2"])
        .join(w1_counts, "w1")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "doc_id",
            F.log(
                (F.col("cb") + F.lit(add_k))
                / (F.col("cw1") + F.lit(add_k) * F.col("v"))
            ).alias("lp"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )
    # single-token/empty docs have no bigrams: emit explicit zeros
    return (
        docs.select("doc_id")
        .join(out, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("avg_logprob", F.lit(0.0)).alias("avg_logprob"),
        )
    )


def token_pmi(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    min_pair_count: int = 3,
    topk: int = 100,
) -> DataFrame:
    """[token_a, token_b, n_a, n_b, n_ab, pmi, rank] — top-``topk``
    token pairs by document-level pointwise mutual information
    (Church & Hanks, CL 1990): pmi = ln(n_ab * N / (n_a * n_b)) over
    per-document DISTINCT token presence. The standard collocation /
    topic-seed / phrase-mining signal a corpus dashboard wants next to
    TF-IDF.

    Scale shape: the corpus explode + doc-frequency count is
    combine-enabled and fully parallel; the pair stage self-joins each
    document's token list ONLY over tokens that survived ``min_count``,
    so per-doc work is |tokens ∩ vocab|² — bound ``min_count`` (or cap
    the vocabulary) to keep the quadratic term on frequent tokens only,
    the same df-cap discipline as the dedup shingle pipeline. Ordering
    is fully deterministic: rank by ROUNDED pmi desc, then
    (token_a, token_b) lexicographic."""
    from pyspark.sql.window import Window

    if topk < 1:
        raise ValueError("topk must be >= 1")
    tok = docs.select(
        F.col("doc_id"),
        F.explode(
            F.array_distinct(tokens(F.lower(F.col(text_col))))
        ).alias("token"),
    ).filter(F.col("token") != "")
    df_t = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    tokf = tok.join(F.broadcast(df_t), "token").select(
        "doc_id", "token", "n"
    )
    a = tokf.select(
        "doc_id", F.col("token").alias("token_a"), F.col("n").alias("n_a")
    )
    b = tokf.select(
        "doc_id", F.col("token").alias("token_b"), F.col("n").alias("n_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("__N"))
    scored = pairs.crossJoin(F.broadcast(n_docs)).select(
        "token_a",
        "token_b",
        "n_a",
        "n_b",
        "n_ab",
        F.round(
            F.log(
                F.col("n_ab").cast("double")
                * F.col("__N")
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ),
            6,
        ).alias("pmi"),
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("token_a"), F.asc("token_b"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
    )


def bpe_merge_stats(
    docs: DataFrame,
    text_col: str = "text",
    topk: int = 100,
    min_count: int = 2,
) -> DataFrame:
    """[pair, left, right, n, rank] — the top-``topk`` adjacent
    character-pair counts over the corpus, weighted by word frequency:
    the statistic a byte-pair-encoding tokenizer trainer (Sennrich et
    al., ACL 2016) computes to pick its next merge. ``pair`` is the
    two-character window, ``left``/``right`` its halves, ``n`` the
    corpus-wide occurrence count (Σ over distinct words of
    in-word occurrences × word frequency).

    Scale shape: the corpus collapses to the DISTINCT-WORD frame first
    (one combine-enabled groupBy — vocabulary-sized, millions of rows at
    100 TB, not trillions), and the quadratic-free pair explode runs per
    distinct word, so total pair rows are Σ_vocab (len(w)-1) — bounded by
    vocabulary mass, independent of corpus duplication. Everything is
    JVM expressions (split/sequence/transform/substring); rank ordering
    is fully deterministic (count desc, pair asc).
    """
    from pyspark.sql.window import Window

    if topk < 1:
        raise ValueError("topk must be >= 1")
    words = (
        docs.select(
            F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # sequence(1, len-1) enumerates pair start positions; guard len < 2
    # (Spark's sequence(1, 0) counts DOWN, it is not empty).
    pairs = words.select(
        F.explode(
            F.when(
                F.length("word") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.col("word").substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
        "freq",
    )
    counted = (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        counted.select(
            "pair",
            F.substring("pair", 1, 1).alias("left"),
            F.substring("pair", 2, 1).alias("right"),
            F.col("n").cast("long").alias("n"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
    )


def _bpe_replay(word: str, merges: list) -> list:
    """Greedy merge-order replay of a BPE merge list on one word: for
    each merge (left, right) in rank order, fuse every adjacent
    (left, right) symbol pair, repeating until that merge no longer
    applies, before moving to the next rank. This is the standard BPE
    *application* convention (Sennrich et al., ACL 2016): earlier merges
    are fully applied before later ones, and within one merge fusion is
    leftmost-first.

    Implemented as sentinel-delimited string replacement so the DuckDB
    oracle (one `replace()` per recursive-CTE step) reproduces it
    bit-for-bit: symbols never contain spaces (the corpus tokenizer
    splits on spaces), so ``' l r ' -> ' lr '`` matches exactly at
    symbol boundaries; the loop re-runs a rank until fixpoint because
    adjacent occurrences share their delimiter space and a single
    non-overlapping replace pass misses every second one."""
    seq = " " + " ".join(word) + " "
    for left, right in merges:
        pat = f" {left} {right} "
        rep = f" {left}{right} "
        while pat in seq:
            seq = seq.replace(pat, rep)
    return seq.split()


def bpe_train(
    docs: DataFrame,
    num_merges: int = 50,
    text_col: str = "text",
    min_count: int = 2,
    max_vocab_words: int = 50_000,
) -> DataFrame:
    """[rank, left, right] — a trained BPE merge list (Sennrich et al.,
    ACL 2016): iteratively fuse the most frequent adjacent symbol pair,
    re-counting after every merge, until ``num_merges`` merges or no
    pair reaches ``min_count``. Ties break on the lexicographically
    smallest (left, right) so the list is deterministic.

    Scale shape: the corpus collapses to the distinct-word + frequency
    frame (one combine-enabled groupBy), the top ``max_vocab_words``
    words by (freq desc, word) are collected driver-side, and the
    iterative trainer runs locally on that bounded vocabulary — the
    sample-bounded-fit pattern (same contract as the IVF KMeans fit):
    the expensive iteration is O(vocab), never O(corpus), and rank-1
    always equals ``bpe_merge_stats``' top pair by construction (both
    compute Σ over distinct words of in-word occurrences x word freq).
    """
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    rows = (
        docs.select(
            F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(max_vocab_words)
        .collect()
    )
    vocab = [(tuple(r["word"]), int(r["freq"])) for r in rows]
    merges = []
    for _ in range(num_merges):
        counts: dict = {}
        for syms, freq in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        # max count, then lexicographically smallest pair — deterministic
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        left, right = best[0]
        merges.append((left, right))
        fused = left + right
        new_vocab = []
        for syms, freq in vocab:
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(fused)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab.append((tuple(out), freq))
        vocab = new_vocab
    spark = docs.sparkSession
    return spark.createDataFrame(
        [(i + 1, l, r) for i, (l, r) in enumerate(merges)],
        "rank long, left string, right string",
    )


class BPEVocab:
    """A trained BPE tokenizer's PERSISTENT state: the rank-ordered merge
    list plus a FIXED symbol vocabulary [token, token_id] — what
    :func:`bpe_encode`'s corpus-relative id mode lacks (there,
    ``token_id`` is the dense rank over THAT corpus's distinct symbols,
    so encoding tomorrow's batch can shift every id). Build with
    :func:`bpe_vocab`, persist with :meth:`save` / :func:`bpe_vocab_load`
    (the MinHashIndex/IVFIndex persistence pattern), then pass as
    ``bpe_encode(docs, vocab=...)`` for ids that are STABLE across
    batches forever.

    Vocabulary construction: the training corpus's distinct single
    characters ∪ each merge's fused symbol — exactly the closed symbol
    space merge replay can emit (every replay output is either a lone
    char or some merge's ``left+right``), so a future batch can only
    fall outside it by containing a NEVER-SEEN character. Ids are the
    dense 1-based rank in sorted token order; **id 0 is reserved for
    unknown** (the explicit unk policy: an OOV symbol keeps its text in
    ``token`` and gets ``token_id = 0``, so downstream can count, drop,
    or re-train on unks without a lossy placeholder string)."""

    def __init__(self, merges: list, vocab: DataFrame):
        self.merges = [tuple(m) for m in merges]
        self.vocab = vocab

    def save(self, path: str) -> None:
        """Persist under ``path`` (parquet: ``merges/`` [rank, left,
        right] + ``vocab/`` [token, token_id]). Reload with
        :func:`bpe_vocab_load`."""
        spark = self.vocab.sparkSession
        spark.createDataFrame(
            [(i + 1, l, r) for i, (l, r) in enumerate(self.merges)],
            "rank long, left string, right string",
        ).write.mode("overwrite").parquet(path + "/merges")
        self.vocab.write.mode("overwrite").parquet(path + "/vocab")


def bpe_vocab(
    docs: DataFrame,
    merges=None,
    num_merges: int = 50,
    text_col: str = "text",
    min_count: int = 2,
    max_vocab_words: int = 50_000,
) -> BPEVocab:
    """Train (or adopt) a merge list and freeze its symbol vocabulary
    into a :class:`BPEVocab`. ``merges`` may be a ``bpe_train`` output
    frame, a rank-ordered list of (left, right) tuples, or None to train
    here with ``num_merges``/``min_count``/``max_vocab_words``.

    Scale shape: the character inventory is one distinct aggregate over
    the corpus's distinct-word frame (combine-enabled, vocabulary-sized
    output) and the merge list is driver-sized by construction — the
    vocab freeze adds no corpus-scale work beyond what training already
    paid."""
    if merges is None:
        merges = bpe_train(
            docs,
            num_merges=num_merges,
            text_col=text_col,
            min_count=min_count,
            max_vocab_words=max_vocab_words,
        )
    if isinstance(merges, DataFrame):
        merge_list = [
            (r["left"], r["right"]) for r in merges.orderBy("rank").collect()
        ]
    else:
        merge_list = [tuple(m) for m in merges]
    from pyspark.sql import Window

    spark = docs.sparkSession
    chars = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .select(F.explode(F.split(F.col("w"), "")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    fused = spark.createDataFrame(
        [(l + r,) for l, r in merge_list], "token string"
    )
    vocab = (
        chars.unionByName(fused)
        .distinct()
        .withColumn(
            "token_id",
            F.row_number().over(Window.orderBy("token")).cast("long"),
        )
    )
    return BPEVocab(merge_list, vocab)


def bpe_vocab_load(spark, path: str) -> BPEVocab:
    """Reload a :meth:`BPEVocab.save`'d tokenizer; fails fast when the
    vocab table is missing/empty (a half-written save would otherwise
    silently encode everything to unk)."""
    merges = [
        (r["left"], r["right"])
        for r in spark.read.parquet(path + "/merges").orderBy("rank").collect()
    ]
    vocab = spark.read.parquet(path + "/vocab")
    if not vocab.take(1):
        raise ValueError(
            f"bpe_vocab_load: {path}/vocab is empty — the save dir is "
            "missing or was only partially written; re-run BPEVocab.save"
        )
    return BPEVocab(merges, vocab)


def bpe_encode(
    docs: DataFrame,
    merges=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: "BPEVocab | None" = None,
) -> DataFrame:
    """[doc_id, pos, token, token_id] — each document's BPE symbol
    sequence under a trained merge list (``bpe_train`` output, a
    [rank, left, right] DataFrame, or a rank-ordered list of
    (left, right) tuples). ``pos`` is the 0-based symbol position in
    the document (word order, then symbol order within the word);
    ``token_id`` is the dense 1-based rank of the symbol in the sorted
    corpus-wide symbol vocabulary (deterministic: same corpus + merges
    => same ids — but CORPUS-RELATIVE: tomorrow's batch can assign
    different ids; a production pipeline passes ``vocab=`` instead).

    ``vocab``: a :class:`BPEVocab` (or a path string saved by
    :meth:`BPEVocab.save`) replaces BOTH the merge list and the id
    assignment with the frozen tokenizer state — ids are stable across
    batches, and a symbol outside the stored vocabulary keeps its text
    with ``token_id = 0`` (the explicit unk policy). Passing ``merges``
    alongside ``vocab`` raises: the vocabulary was frozen against ONE
    merge list, and encoding with another would silently mint symbols
    the id table has never seen.

    Scale shape (the trainer's dual): merge replay — the only Python —
    runs once per DISTINCT word (vocabulary-bounded Arrow-batched
    pandas UDF, work independent of corpus duplication), the encoded
    word table joins back to the positional token stream (vocab-sized
    side; Spark broadcasts it), and per-document positions are one
    window keyed on the document id — state bounded by document
    length. Symbol-id assignment is a second tiny broadcast join
    against the distinct-symbol table. Merge replay semantics are
    pinned by :func:`_bpe_replay`; the DuckDB oracle replays the same
    list with a recursive CTE (see ``__spark_entry__.oracle_sql``)."""
    from pyspark.sql import Window

    if vocab is not None:
        if merges is not None:
            raise ValueError(
                "bpe_encode: pass merges OR vocab, not both — the "
                "vocabulary was frozen against its own merge list"
            )
        if isinstance(vocab, str):
            vocab = bpe_vocab_load(docs.sparkSession, vocab)
        merge_list = vocab.merges
    elif merges is None:
        raise ValueError("bpe_encode: one of merges/vocab is required")
    elif isinstance(merges, DataFrame):
        merge_list = [
            (r["left"], r["right"])
            for r in merges.orderBy("rank").collect()
        ]
    else:
        merge_list = [tuple(m) for m in merges]

    def _replay_series(words):
        return words.map(lambda w: _bpe_replay(w, merge_list))

    replay = F.pandas_udf(_replay_series, "array<string>")

    words = docs.select(
        id_col,
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias(
            "__wpos", "__word"
        ),
    ).filter(F.col("__word") != "")
    encoded = (
        words.select("__word")
        .distinct()
        .withColumn("__syms", replay(F.col("__word")))
    )
    stream = (
        words.join(F.broadcast(encoded), "__word")
        .select(
            id_col,
            "__wpos",
            F.posexplode("__syms").alias("__spos", "token"),
        )
    )
    w = Window.partitionBy(id_col).orderBy("__wpos", "__spos")
    positioned = stream.withColumn(
        "pos", (F.row_number().over(w) - 1).cast("long")
    )
    if vocab is not None:
        # frozen ids: left join against the stored table, OOV -> unk (0)
        return positioned.join(
            F.broadcast(vocab.vocab), "token", "left"
        ).select(
            id_col,
            "pos",
            "token",
            F.coalesce("token_id", F.lit(0)).cast("long").alias("token_id"),
        )
    ids = (
        positioned.select("token")
        .distinct()
        .withColumn(
            "token_id",
            F.row_number()
            .over(Window.orderBy("token"))
            .cast("long"),
        )
    )
    return positioned.join(F.broadcast(ids), "token").select(
        id_col, "pos", "token", "token_id"
    )


def inverted_postings(
    docs: DataFrame,
    text_col: str = "text",
    min_df: int = 2,
    max_postings: int = 50,
) -> DataFrame:
    """[term, df, cf, postings] — the inverted-index build: per term its
    document frequency, corpus frequency (total occurrences), and the
    posting list as a comma-joined string of the first ``max_postings``
    ascending doc_ids (the scalar-typed export form; the unbounded array
    form is one ``collect_list`` away for engines that want it).

    Scale shape: one corpus explode + a combine-enabled (term, doc)
    aggregate, then TWO term-keyed passes that reuse its hash
    partitioning: an unbounded count/sum aggregate (fixed-size buffer
    per term) for df/cf, and a row_number window filtered to
    ``max_postings`` BEFORE the collect_list — so the list-typed
    aggregation buffer is bounded for every term. A stop word whose
    true posting list is the whole corpus (multi-GB of doc_ids at
    100 TB) never materializes it anywhere: not in the output AND not
    in an aggregate state; df/cf still count everything. Ordering
    inside the list is ascending doc_id: deterministic and the order a
    posting-list intersector wants."""
    from pyspark.sql import Window

    td = (
        docs.select(
            "doc_id",
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = (
        td.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )
        .filter(F.col("df") >= min_df)
    )
    # (term, doc_id) is unique after the aggregate, so row_number over
    # doc_id is deterministic; the filter caps the rows FEEDING the
    # collect_list, keeping its buffer <= max_postings entries per term.
    # NULL doc_ids are excluded BEFORE ranking (they'd sort first and eat
    # max_postings slots that collect_list then drops) — matching the
    # pre-r9 behavior where collect_list itself skipped them; df/cf above
    # still count the NULL group, as before.
    rn = F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    # semi-join prune: terms below min_df are dropped by the final stats
    # join anyway, so ranking/collecting their postings is pure waste —
    # on a large low-df vocabulary (the common long tail) this removes
    # most of the window's input before it sorts. Skipped at min_df<=1
    # where it could prune nothing.
    posting_src = td.filter(F.col("doc_id").isNotNull())
    if min_df > 1:
        posting_src = posting_src.join(
            stats.select("term"), "term", "left_semi"
        )
    postings = (
        posting_src
        .withColumn("__rn", rn)
        .filter(F.col("__rn") <= max_postings)
        .groupBy("term")
        .agg(
            F.concat_ws(
                ",",
                F.sort_array(F.collect_list("doc_id")).cast("array<string>"),
            ).alias("postings")
        )
    )
    # left join + '' default: a term whose only occurrences carry NULL
    # doc_ids keeps its (df, cf) row with an empty posting string — the
    # same row the pre-r9 single-aggregate form produced
    return stats.join(postings, "term", "left").select(
        "term", "df", "cf", F.coalesce("postings", F.lit("")).alias("postings")
    )
