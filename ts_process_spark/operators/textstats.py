"""Text-analysis operators for large-scale training-data pipelines.

All pure JVM column expressions (whole-stage codegen, no Python in the
hot path): tokenization, token statistics, quality scoring, stopword-
based language ID, and a rolling-hash document fingerprint.  At 100 TB
these run as a single scan + project — no shuffle at all until an
aggregation is requested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# fixed stopword vocabularies for the language-ID heuristic (public
# high-frequency function words; the mechanism is the point, not the lists)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "por", "en"],
}


# Explicit whitespace class == Java's \s == [ \t\n\x0B\f\r].  Spelled out
# because the DuckDB oracles use RE2, whose \s EXCLUDES vertical tab —
# with the explicit class both engines tokenize control characters
# identically.  Kept in one place; queries_docs._WORDS_SQL mirrors it.
WHITESPACE_CLASS = "[ \\t\\n\\x0B\\f\\r]+"


def _ensure_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Spread a too-few-partition input across the cluster before a
    compute-heavy stage.  At real scale the scan already has thousands
    of splits and this is a no-op; on small single-row-group test
    inputs it stops a tokenize/explode/hash stage from running on one
    core (a parquet row group is unsplittable, so byte-range splits
    cannot parallelize it).

    With ``keys``, the spread is HASH partitioning on those columns, so
    a downstream groupBy(keys) sees its clustering requirement already
    satisfied and skips its own exchange.  Without keys it is
    round-robin.  Lives here (the bottom of the operator import graph)
    so dedup/similarity/textstats can all use it."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        if keys:
            return df.repartition(target, *[F.col(k) for k in keys])
        return df.repartition(target)
    return df


def _token_chars(toks: Column) -> Column:
    """Total characters across tokens — int64 fold, shared by
    with_token_stats and gopher_quality_flags (one copy on purpose)."""
    return F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )


def tokens(col: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace, no
    empties).  NULL text normalizes to the empty token array — so every
    downstream stat/dedup op sees an empty doc, matching the coalesce in
    the SQL oracles instead of engine-specific NULL propagation."""
    return F.filter(
        F.split(F.trim(F.coalesce(col, F.lit(""))), WHITESPACE_CLASS),
        lambda w: w != "",
    )


def with_token_stats(df: DataFrame) -> DataFrame:
    """n_tokens, n_unique_tokens, total token chars, type/token ratio of
    ``text``.

    All counters are int64: int32 would overflow on 100 TB-scale corpus
    aggregates, and the driver's oracle hash is dtype-strict (DuckDB
    ``len()``/``list_aggregate 'sum'`` are BIGINT-kind)."""
    toks = tokens(F.col("text"))
    return (
        _ensure_parallelism(df)
        .withColumn("_toks", toks)
        .withColumn("n_tokens", F.size("_toks").cast("long"))
        .withColumn(
            "n_unique_tokens", F.size(F.array_distinct("_toks")).cast("long")
        )
        .withColumn("token_chars", _token_chars(F.col("_toks")))
        .drop("_toks")
    )


def stopword_count(col: Column, lang: str) -> Column:
    """Count of stopword occurrences (non-deduplicating filter, so the
    semantics match `list_filter`+`list_contains` in the SQL oracle)."""
    stops = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
    return F.size(
        F.filter(tokens(col), lambda w: F.array_contains(stops, F.lower(w)))
    ).cast("long")


def with_quality_score(df: DataFrame) -> DataFrame:
    """Heuristic doc-quality features: length band, mean token length,
    stopword ratio, repetition (1 - type/token).  Scores are exact
    rationals of integer counts — stable across engines."""
    df = with_token_stats(df)
    sw = stopword_count(F.col("text"), "en")
    return (
        df.withColumn("stopword_hits", sw)
        .withColumn(
            "repetition_ratio",
            F.when(
                F.col("n_tokens") > 0,
                1.0 - F.col("n_unique_tokens") / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "mean_token_len",
            F.when(
                F.col("n_tokens") > 0, F.col("token_chars") / F.col("n_tokens")
            ).otherwise(F.lit(0.0)),
        )
    )


def with_language_id(df: DataFrame) -> DataFrame:
    """Stopword-ratio language ID: argmax over per-language hit counts
    (ties broken by language code order) — the n-gram-free heuristic
    variant; deterministic and SQL-expressible."""
    hits = {lang: stopword_count(F.col("text"), lang) for lang in STOPWORDS}
    best = F.greatest(*[hits[lg] for lg in sorted(STOPWORDS)])
    pred = F.lit("und")
    for lg in sorted(STOPWORDS, reverse=True):
        pred = F.when(hits[lg] == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    out = df
    for lg in sorted(STOPWORDS):
        out = out.withColumn(f"hits_{lg}", hits[lg])
    return out.withColumn("lang_pred", pred)


_FP_MOD = 2147483647  # 2^31 - 1 (Mersenne): acc*33 + h stays < 2^37, no overflow


def with_fingerprint(df: DataFrame) -> DataFrame:
    """Order-sensitive rolling polynomial fingerprint of the token
    stream: acc = (acc*33 + hash60(token) % M) % M.  A reordered
    document gets a different fingerprint (unlike bag-of-words hashes);
    JVM-side via the `aggregate` higher-order function.  The token hash
    is the 60-bit md5-derived dedup.hash60, so the rolling recurrence is
    reproducible in DuckDB (list_reduce)."""
    from ts_process_spark.operators.dedup import hash60

    toks = tokens(F.col("text"))
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * 33 + hash60(w) % _FP_MOD) % _FP_MOD,
    )
    return df.withColumn("fingerprint", fp)


# ------------------------------------------------- relevance scoring


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    idf_quant: int | None = None,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a small fixed
    query-term list — the standard retrieval/curation scorer (published
    formula; idf = ln(1 + (N − df + 0.5)/(df + 0.5)), the Lucene
    non-negative variant, with the usual k1 = 1.2 and b = 0.75).

    Scale shape: per-term tf is `size(filter(tokens, = term))` — pure
    array expressions in the scan projection, NO explode and NO shuffle
    for any number of documents.  The only global state is one 1-row
    aggregate (N, avgdl, df per term) broadcast back with a crossJoin;
    total cost at 100 TB = two corpus scans, zero exchanges of corpus
    data.  Query terms are compile-time literals, so Catalyst folds the
    per-term expressions into the same whole-stage-codegen projection.

    ``idf_quant``: when set (e.g. 10**6), each term's idf — the ONLY
    transcendental in the formula — is snapped to a 1/idf_quant grid
    before use.  Every other op (+,−,×,÷, casts) is exact IEEE-754, so
    the whole score becomes bit-reproducible across engines whose only
    divergence is ≤1-ulp libm logs: the oracle replays the identical op
    tree and hashes clean under the driver's dtype-strict gate.  The
    snap perturbs each score by <2/idf_quant relative — retrieval
    ordering is unaffected at 1e-6 resolution.

    A corpus where every document is empty has avgdl = 0; the length
    norm degrades to its (1 − b) floor instead of emitting 0/0 = NaN
    for every score.

    Output: (id, doc_len, tf_0..tf_{T-1}, bm25)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    k1, b = 1.2, 0.75

    def _tf(term: str) -> Column:
        # closure factory, NOT a default arg: a 2-param lambda would be
        # interpreted by Spark as (element, index) and bind the term to
        # the array-index column
        return F.size(
            F.filter(F.col("_toks"), lambda w: w == F.lit(term))
        ).cast("long")

    # r9: tokenize ONCE into a materialized column (the T+1 per-term
    # expressions each re-ran split+filter on the raw text), behind the
    # small-input spread (single-row-group scans otherwise run the
    # whole projection on one core; no-op at scale).  The _toks
    # projection survives because CollapseProject keeps non-cheap
    # aliases referenced more than once.
    base = (
        _ensure_parallelism(df.select(F.col("doc_id").alias("id"), F.col("text")))
        .select("id", tokens(F.col("text")).alias("_toks"))
        .select(
            "id",
            F.size("_toks").cast("long").alias("doc_len"),
            *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(query_terms)],
        )
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.sum("doc_len").alias("_sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"_df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    n_d = F.col("_n_docs").cast("double")
    avgdl = F.col("_sum_dl").cast("double") / n_d
    lennorm = F.when(
        F.col("_sum_dl") > 0,
        (1.0 - b) + b * (F.col("doc_len").cast("double") / avgdl),
    ).otherwise(F.lit(1.0 - b))
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        df_d = F.col(f"_df_{i}").cast("double")
        idf = F.log(1.0 + ((n_d - df_d) + 0.5) / (df_d + 0.5))
        if idf_quant is not None:
            idf = (
                F.round(idf * float(idf_quant)).cast("long").cast("double")
                / float(idf_quant)
            )
        tf = F.col(f"tf_{i}").cast("double")
        score = score + idf * ((tf * (k1 + 1.0)) / (tf + k1 * lennorm))
    return scored.select(
        "id",
        "doc_len",
        *[f"tf_{i}" for i in range(len(query_terms))],
        score.alias("bm25"),
    )


def tfidf_top_terms(
    df: DataFrame,
    top_k: int = 5,
    quantize: int | None = None,
) -> DataFrame:
    """Per-document top-k terms by tf·idf (idf = ln(N/df), smooth-free
    textbook form; ties broken by term asc for determinism).

    Scale shape: explode → ONE (id, term) hash-aggregate for tf →
    term-keyed df aggregate (partial-combined, shuffle O(vocab)) joined
    back, then a per-doc top-k via array sort of collected (score,
    term) structs — shuffle O(doc × distinct-terms), never O(tokens).

    ``quantize``: when set, the score is the EXACT int64
    tf · round(ln(N/df)·quantize) — idf (the only transcendental) snaps
    to a grid, everything after is integer arithmetic, so scores and the
    (−score, term) ordering are bit-reproducible cross-engine for the
    dtype-strict oracle gate; ``scores`` becomes array<long>.

    Output: (id, terms array<string>, scores array<double|long>)."""
    toks = tokens(F.col("text"))
    # r9: spread before the explode — the generator argument is
    # evaluated in the scan stage, which a single-row-group input pins
    # to one task — and spread KEYED BY id: hash(id) partitioning
    # satisfies the clustering of BOTH the (id, w) tf aggregate and the
    # final per-doc top-k aggregate, so neither pays its own exchange
    # (two token-volume shuffles removed at bench scale; no-op at real
    # scale where the partial+final plan returns)
    ex = _ensure_parallelism(
        df.select(F.col("doc_id").alias("id"), F.col("text")), "id"
    ).select("id", F.explode(toks).alias("w"))
    tf = ex.groupBy("id", "w").agg(F.count(F.lit(1)).alias("tf"))
    # N as a broadcast 1-row aggregate — query construction stays
    # action-free (the queries_ts.py:52 contract), and N counts ALL
    # docs including empty ones
    nd = df.agg(F.count(F.lit(1)).alias("_n"))
    dfreq = (
        tf.groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 1)
    )
    if quantize is None:
        s = F.col("tf") * F.log(F.col("_n") / F.col("df"))
    else:
        lnq = F.round(
            F.log(F.col("_n").cast("double") / F.col("df").cast("double"))
            * float(quantize)
        ).cast("long")
        s = F.col("tf") * lnq  # long × long — exact
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(nd))
        .select("id", "w", s.alias("s"))
    )
    # top-k: collect per doc, sort by (-score, term), slice — the
    # per-doc distinct-term count is bounded by doc length, so the
    # collected array is small even when the corpus is not
    agg = scored.groupBy("id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(F.struct((-F.col("s")).alias("neg"),
                                        F.col("w").alias("w"))),
            ),
            1,
            top_k,
        ).alias("top")
    )
    return agg.select(
        "id",
        F.transform("top", lambda x: x["w"]).alias("terms"),
        F.transform("top", lambda x: -x["neg"]).alias("scores"),
    )


def pack_documents(
    df: DataFrame,
    budget_tokens: int = 2048,
    n_shards: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Deterministic greedy sequence packing — the training-data prep
    step that concatenates documents into fixed-token-budget bins
    (pretraining sample packing).  Documents are sharded by
    pmod(xxhash64(id), n_shards) and packed WITHIN a shard in id order:
    bin = floor(start_offset / budget) of the running token cumsum, so
    a document whose tokens straddle a boundary belongs to the bin its
    first token falls in (bins can overflow by at most one document —
    the standard streaming-pack rule; oversized single documents get
    their own bins).

    Scale shape: one hash-shard exchange + one per-shard window — bins
    are shard-local ON PURPOSE: a global packing order would serialize
    the corpus through one task, while shard-local packing is how real
    pipelines shard anyway (each shard → one output file series).
    Deterministic at any parallelism: shard and order depend only on
    ids.

    ``hash_mode``: ``"xxhash64"`` (production default — cheapest shard
    hash) or ``"md5"`` (dedup.hash60 over the id string), the same
    two-mode convention as the minhash/simhash pipelines: md5 mode is
    bit-reproducible in DuckDB, so the whole packing plan is
    value-checkable by the gate oracle; everything downstream of the
    shard column is identical between modes.

    Output: (id, n_tokens, shard, bin_id, pos_in_bin)."""
    from pyspark.sql import Window

    from ts_process_spark.operators.dedup import hash60

    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    if hash_mode == "xxhash64":
        shard_hash = F.xxhash64(F.col("id"))
    elif hash_mode == "md5":
        shard_hash = hash60(F.col("id").cast("string"))
    else:  # a typo must not silently re-shard the corpus (review r6)
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    # r9: spread before the tokenizing projection (single-row-group
    # inputs pin it to one task; no-op at real scale)
    base = _ensure_parallelism(
        df.select(F.col("doc_id").alias("id"), F.col("text"))
    ).select(
        "id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    ).withColumn("shard", F.pmod(shard_hash, F.lit(n_shards)).cast("int"))
    # ROWS frame explicitly (review r5): the default RANGE frame makes
    # duplicate ids frame PEERS, double-counting their tokens in the
    # first duplicate's running sum; n_tokens as the secondary key
    # keeps the order deterministic under duplicate ids (rows tied on
    # BOTH keys are interchangeable — identical id and length — so the
    # packing outcome is invariant to their order)
    w = (
        Window.partitionBy("shard")
        .orderBy("id", "n_tokens")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum("n_tokens").over(w)
    out = base.withColumn("_start", running - F.col("n_tokens"))
    # `div`, not floor(double /): genuinely integer, exact at any
    # cumulative offset (floor of the double quotient drifts near 2^53)
    out = out.withColumn(
        "bin_id", F.expr(f"_start div {int(budget_tokens)}").cast("long")
    )
    wb = Window.partitionBy("shard", "bin_id").orderBy("id", "n_tokens")
    return out.withColumn(
        "pos_in_bin", (F.row_number().over(wb) - 1).cast("long")
    ).select("id", "n_tokens", "shard", "bin_id", "pos_in_bin")


def gopher_quality_flags(
    df: DataFrame,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, published
    heuristics) as PURE column expressions — one scan, no shuffle, no
    Python; the standard pretraining-corpus repetition/format filters.

    Emits one boolean per rule plus ``gopher_pass`` (AND of all), never
    dropping rows — filtering policy belongs to the caller; at 100 TB
    you want the flags materialized once and reusable by many cuts.

    Rules (ratios are exact rationals of integer counts, so the flags
    are engine-stable for oracle checks), with Gopher's thresholds:
    token count in [50, 100000]; mean word length in [3, 10];
    symbol-to-word ratio (# and … / ...) ≤ 0.1; bulleted-line fraction
    ≤ 0.9; ellipsis-terminated-line fraction ≤ 0.3; fraction of words
    containing an alphabetic character ≥ 0.8; ≥ 2 English stopword
    hits; duplicate-line fraction ≤ 0.3."""
    txt = F.coalesce(F.col("text"), F.lit(""))  # NULL text == empty doc
    # r9: tokenize and line-split ONCE into materialized columns — the
    # rule expressions each re-derived tokens()/split() from the raw
    # text (≈8 tokenizations per row, all CodegenFallback HOFs) — and
    # spread small inputs first so the projection is not pinned to the
    # scan's single task (no-op at real scale).  CollapseProject keeps
    # the multi-referenced non-cheap aliases, so _toks/_lines compute
    # once per row.  Every rule below is the IDENTICAL expression over
    # the materialized arrays — same flags, bit for bit.
    pre = (
        _ensure_parallelism(df)
        .withColumn("_toks", tokens(F.col("text")))
        .withColumn(
            "_lines", F.filter(F.split(txt, "\n"), lambda ln: F.trim(ln) != "")
        )
    )
    toks = F.col("_toks")
    lines = F.col("_lines")
    n_tokens = F.size(toks).cast("long")
    token_chars = _token_chars(toks)
    mean_wl = F.when(n_tokens > 0, token_chars / n_tokens).otherwise(F.lit(0.0))
    n_symbols = (
        F.length(txt)
        - F.length(F.regexp_replace(txt, r"[#…]", ""))
        + F.lit(3) * (F.size(F.split(txt, r"\.\.\.", -1)) - 1)
    ).cast("long")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
    ).cast("long")
    n_ellipsis = F.size(
        F.filter(lines, lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)\z"))
    ).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda w: w.rlike(r"[A-Za-z]"))
    ).cast("long")
    n_dist_lines = F.size(
        F.array_distinct(F.transform(lines, F.trim))
    ).cast("long")
    stops = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    sw = F.size(
        F.filter(toks, lambda w: F.array_contains(stops, F.lower(w)))
    ).cast("long")
    out = (
        pre.withColumn("n_tokens", n_tokens)
        .withColumn("mean_word_len", mean_wl)
        .withColumn(
            "ok_token_count",
            (n_tokens >= 50) & (n_tokens <= 100_000),
        )
        .withColumn(
            "ok_mean_word_len",
            (mean_wl >= 3.0) & (mean_wl <= 10.0),
        )
        .withColumn(
            "ok_symbol_ratio",
            F.when(n_tokens > 0, n_symbols / n_tokens <= 0.1)
            .otherwise(F.lit(True)),
        )
        .withColumn(
            "ok_bullet_lines",
            F.when(n_lines > 0, n_bullet / n_lines <= 0.9)
            .otherwise(F.lit(True)),
        )
        .withColumn(
            "ok_ellipsis_lines",
            F.when(n_lines > 0, n_ellipsis / n_lines <= 0.3)
            .otherwise(F.lit(True)),
        )
        .withColumn(
            "ok_alpha_words",
            F.when(n_tokens > 0, n_alpha / n_tokens >= 0.8)
            .otherwise(F.lit(False)),
        )
        .withColumn("ok_stopwords", sw >= 2)
        .withColumn(
            "ok_dup_lines",
            F.when(
                n_lines > 0,
                (n_lines - n_dist_lines) / n_lines <= 0.3,
            ).otherwise(F.lit(True)),
        )
    )
    rules = [
        "ok_token_count", "ok_mean_word_len", "ok_symbol_ratio",
        "ok_bullet_lines", "ok_ellipsis_lines", "ok_alpha_words",
        "ok_stopwords", "ok_dup_lines",
    ]
    allok = F.col(rules[0])
    for r in rules[1:]:
        allok = allok & F.col(r)
    return out.withColumn("gopher_pass", allok).drop("_toks", "_lines")


# --------------------------------------------------- PII detect / redact

# Patterns restricted to the syntax Java regex (Spark) and RE2 (DuckDB)
# interpret IDENTICALLY — ASCII classes, bounded repetition, \b, no
# lookaround — so redaction is oracle-checkable string-for-string.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # E.164-ish international numbers and dashed US numbers
    ("phone", r"\+\d{7,15}\b|\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
)


def with_pii_flags(df: DataFrame) -> DataFrame:
    """PII detection + redaction as pure column expressions (the
    standard pretraining-corpus scrub stage — C4/CCNet-style): per-doc
    match counts for emails, IPv4 literals, and phone numbers, plus a
    ``redacted`` column with placeholder substitution applied in a
    FIXED pattern order (email → ipv4 → phone; order matters because
    redaction changes the text later patterns see).

    One scan projection, no exchange, no Python.  Counts are exact
    int64 and redaction is deterministic, so the whole op replays in
    DuckDB (regexp_extract_all / regexp_replace 'g') for a strict value
    oracle — PII_PATTERNS is deliberately limited to regex syntax that
    Java regex and RE2 agree on.

    Counts vs redaction: each ``n_*`` is counted per-pattern over the
    RAW text, while redaction is sequential — so overlapping matches
    (e.g. a phone-shaped digit run inside an email local part) can make
    ``n_pii`` exceed the number of replacements actually applied to
    ``redacted``.  ``n_pii`` means "pattern hits in the original text",
    not "redactions performed"; both sides of the oracle pair compute
    it the same way, so the pair stays strict.

    Detection, not NER: the regex stage is the cheap hard filter; an
    ML-based pass would sit downstream on the survivors."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    out = df
    red = txt
    for name, pat, tag in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(txt, F.lit(pat)).cast("long")
        )
        red = F.regexp_replace(red, pat, tag)
    n_pii = None
    for name, _, _ in PII_PATTERNS:
        c = F.col(f"n_{name}")
        n_pii = c if n_pii is None else n_pii + c
    return (
        out.withColumn("n_pii", n_pii)
        .withColumn("redacted", red)
        .withColumn("pii_free", n_pii == 0)
    )


def dedup_lines(df: DataFrame) -> DataFrame:
    """Within-document duplicate-line removal — the CCNet/RefinedWeb
    cleaning TRANSFORM behind the Gopher ``ok_dup_lines`` flag this
    module already computes: keep the FIRST occurrence of every
    distinct line, preserve original order, drop later repeats
    (navigation chrome, repeated headers, boilerplate footers).

    Every empty line is kept — paragraph structure is meaning, and ""
    repeating is not boilerplate.

    Returns ``(doc_id, text)`` with the rewritten text for EVERY input
    doc (NULL text → empty string, matching the engine-wide coalesce
    convention).

    Scale shape: split is a bounded explode (one row per line); the
    first-occurrence pick is a min(pos) PARTIAL aggregate on
    (id, line) — a footer line repeated 10⁴ times in one doc collapses
    map-side to a single row before its exchange, exactly the
    boilerplate this transform exists to remove — and the rebuild is a
    second aggregate on id with an order-restoring array sort.  Two
    bounded exchanges, no Python, no collect; line order is restored
    exactly by the original line index, never by engine row order.
    (A row_number-window variant was rejected: it must SHUFFLE every
    raw duplicate line to rank it, forfeiting the combine.)"""
    lines = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\n", -1)
        ).alias("pos", "line"),
    )
    # blanks get a per-position discriminator so the dedup aggregate
    # cannot collapse them (paragraph breaks survive)
    disc = F.when(F.col("line") == "", F.col("pos"))
    kept = (
        lines.withColumn("disc", disc)
        .groupBy("id", "line", "disc")
        .agg(F.min("pos").alias("pos"))
    )
    return (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "line"))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text")
        )
        .select(F.col("id").alias("doc_id"), "text")
    )


# ------------------------------------------- centroid text classifier


def hashed_count_features(
    df: DataFrame,
    n_features: int,
    id_cols: list[str],
    hash_mode: str = "xxhash64",
    spread_by_ids: bool = False,
) -> DataFrame:
    """Hashing-trick token-count features: one row per (*id_cols,
    feature) with its int64 count.  feature = hash(token) mod
    n_features — the standard hashing trick (Weinberger et al. 2009),
    which caps model/state size at n_features regardless of corpus
    vocabulary.  hash_mode 'md5' uses dedup.hash60 (bit-identical in
    DuckDB, the oracle mode); 'xxhash64' is the cheap production mode.

    Plan: explode is per-doc bounded; the groupBy's partial aggregation
    collapses each document's repeated tokens map-side (a document's
    tokens all live in its own input row), so the exchange carries one
    row per distinct (id, feature), never one per token."""
    from ts_process_spark.operators.dedup import hash60

    if hash_mode == "md5":
        feat = hash60(F.col("_w")) % n_features
    elif hash_mode == "xxhash64":
        feat = F.pmod(F.xxhash64(F.col("_w")), F.lit(n_features))
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    # r9: spread before the explode+hash (single-row-group inputs pin
    # the scan stage to one task; no-op at real scale).
    # ``spread_by_ids=True`` hash-spreads on id_cols so the (ids,
    # feature) aggregate's clustering is pre-satisfied (no
    # token-volume exchange) — only for HIGH-CARDINALITY id_cols
    # (per-doc scoring); a per-LABEL train pass must stay round-robin
    # or the whole corpus lands on n_labels partitions.
    src = _ensure_parallelism(
        df.select(*id_cols, F.col("text")),
        *(id_cols if spread_by_ids else []),
    )
    return (
        src.select(*id_cols, F.explode(tokens(F.col("text"))).alias("_w"))
        .select(*id_cols, feat.alias("feature"))
        .groupBy(*id_cols, "feature")
        .agg(F.count(F.lit(1)).alias("x"))
    )


def train_centroid_classifier(
    train_docs: DataFrame,
    label_col: str,
    n_features: int = 2**18,
    hash_mode: str = "xxhash64",
) -> dict:
    """Train a centroid (Rocchio) text classifier (Han & Karypis 2000)
    over hashing-trick token-count vectors — the lightweight
    quality/language classification stage of a curation pipeline (the
    role fasttext-style linear classifiers play in CCNet-descended
    stacks), re-derived for an exactness gate: every score the
    classifier emits is ``int/(sqrt(int)*sqrt(int))`` in IEEE doubles,
    so Spark and DuckDB produce BIT-IDENTICAL cosines (division, sqrt,
    multiplication are correctly rounded; the integers are exact).  A
    multinomial-NB variant would need ln(), which carries no
    cross-engine rounding guarantee — that is why the gate surface is
    the centroid form.

    Each class centroid is the UNNORMALIZED elementwise sum of its
    training documents' count vectors (cosine is scale-invariant, and
    keeping the sum in int64 is what makes the oracle exact).

    Scale posture: train is ONE word-count-shaped pass — explode,
    map-side combine, exchange bounded by n_labels x n_features rows
    (the hashing trick caps it; corpus vocabulary never matters);
    the model pivots to <= n_features rows and is broadcast at score
    time (~n_features*(8+8L) bytes).  The only driver-side collects are
    the label list and the L per-class norms — same bounded-codebook
    posture as the ANN stack.  Counts are int64 under ANSI mode, which
    bounds the TRAIN split at ~3e9 tokens per class (sum of squared
    centroid entries must stay under 2^63; Spark throws loudly, never
    wraps) — the way these classifiers are used anyway: fit on a
    bounded labeled sample, score the full 100-TB corpus.

    Returns {"labels": [str...], "model": DataFrame(feature, cnts:
    array<long> ordered by labels), "norms": [int...] (sum of squared
    centroid entries per label), "n_features": int, "hash_mode": str}.
    """
    labels = [
        r[0]
        for r in train_docs.select(label_col)
        .where(F.col(label_col).isNotNull())
        .distinct()
        .orderBy(label_col)
        .collect()
    ]
    if not labels:
        raise ValueError(f"no non-null labels in {label_col!r}")
    cf = hashed_count_features(
        train_docs.where(F.col(label_col).isNotNull()),
        n_features,
        [label_col],
        hash_mode=hash_mode,
    )
    model = cf.groupBy("feature").agg(
        F.array(
            *[
                F.coalesce(
                    F.sum(F.when(F.col(label_col) == lab, F.col("x"))),
                    F.lit(0).cast("long"),
                )
                for lab in labels
            ]
        ).alias("cnts")
    )
    norm_row = model.agg(
        *[
            F.sum(F.col("cnts")[i] * F.col("cnts")[i]).alias(f"n{i}")
            for i in range(len(labels))
        ]
    ).first()
    norms = [int(norm_row[i]) for i in range(len(labels))]
    if any(n == 0 for n in norms):
        empty = [lab for lab, n in zip(labels, norms) if n == 0]
        raise ValueError(f"labels with empty centroids: {empty}")
    return {
        "labels": labels,
        "model": model,
        "norms": norms,
        "n_features": n_features,
        "hash_mode": hash_mode,
    }


def centroid_classify(docs: DataFrame, clf: dict) -> DataFrame:
    """Score documents against a trained centroid classifier: per-doc
    cosine to EVERY class centroid, argmax with label-ASC tie-break.

    Output: (doc_id, n_tokens int64, pred_label string, max_cos
    double).  Zero-token documents get NULL pred_label/max_cos (cosine
    is undefined at zero norm) — every input row appears exactly once.

    Plan: doc count-vectors via hashed_count_features (exchange keyed
    by (id, feature) — O(doc x distinct-tokens) rows, the same bounded
    class as tf-idf); the model attach is an explicit BROADCAST hash
    join (<= n_features rows by construction — unconditionally
    broadcastable, unlike data-sized dimension tables); one final
    exchange on id for the dot products and the doc norm.  The cosine
    arithmetic is int-exact until a single cast-divide-sqrt expression
    whose operand order matches the DuckDB oracle token-for-token."""
    labels, norms = clf["labels"], clf["norms"]
    x = hashed_count_features(
        docs, clf["n_features"], ["doc_id"], hash_mode=clf["hash_mode"],
        spread_by_ids=True,
    )
    joined = x.join(F.broadcast(clf["model"]), "feature", "left")
    per_doc = joined.groupBy("doc_id").agg(
        F.sum("x").alias("n_tokens"),
        F.sum(F.col("x") * F.col("x")).alias("_d2"),
        *[
            F.coalesce(
                F.sum(F.col("x") * F.col("cnts")[i]), F.lit(0).cast("long")
            ).alias(f"_dot{i}")
            for i in range(len(labels))
        ],
    )
    cos = [
        (
            F.col(f"_dot{i}").cast("double")
            / (
                F.sqrt(F.col("_d2").cast("double"))
                * F.sqrt(F.lit(norms[i]).cast("double"))
            )
        ).alias(f"_cos{i}")
        for i in range(len(labels))
    ]
    scored = per_doc.select("doc_id", "n_tokens", *cos)
    # argmax via struct max: (cos, -idx) — highest cosine, then LOWEST
    # label index (labels are sorted ASC at train time), so ties are
    # deterministic and engine-independent (cosines are bit-exact)
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    F.col(f"_cos{i}").alias("c"),
                    F.lit(-i).alias("ni"),
                )
                for i in range(len(labels))
            ]
        )
    )
    lab_arr = F.array(*[F.lit(lab) for lab in labels])
    scored = scored.withColumn("_b", best).select(
        "doc_id",
        "n_tokens",
        F.element_at(lab_arr, -F.col("_b.ni") + 1).alias("pred_label"),
        F.col("_b.c").alias("max_cos"),
    )
    # reattach zero-token docs (they vanish at the explode): NULL
    # prediction, n_tokens 0 — every input row surfaces exactly once
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            "pred_label",
            "max_cos",
        )
    )
