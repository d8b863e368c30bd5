"""Text-analysis operators for training-data pipelines over a ``documents``
table ``(doc_id, text, lang, source, n_chars)``.

All pure Column expressions (JVM-side, whole-stage-codegen'd) — these run
per-row over 100 TB of text, so no Python may touch the hot path. Word
tokenization is normalized to single-space splitting after whitespace
collapse so the semantics are reproducible in any ANSI engine (the DuckDB
oracle uses the identical pipeline).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from c3s_sm_spark.functions.per_key import per_key_ordered_map

#: tiny high-frequency English stopword markers for the lang-id heuristic
_EN_MARKERS = (" the ", " and ", " of ", " to ", " is ")


def words_col(text: Column | str) -> Column:
    """Whitespace-collapsed word array (regex-free split for portability).

    Empty / whitespace-only text yields an EMPTY array: a bare split
    returns [""] (size 1), which silently let blank boilerplate pass
    token-count and quality filters with n_tokens=1."""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(
        F.length(F.trim(c)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.regexp_replace(F.trim(c), r"\s+", " "), " "))


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc token counting: whitespace tokens + char/density stats.

    The words array is staged once (``__ws``) so the two n_tokens
    consumers don't each re-split the text — this is THE hot counting
    path at corpus scale, so one parse per row matters."""
    staged = docs.select(
        "doc_id",
        F.col(text_col).alias("__t"),
        words_col(text_col).alias("__ws"),
    )
    n_tok = F.size("__ws").cast("long")
    n_nonspace = F.length(F.regexp_replace(F.col("__t"), r"\s+", "")).cast("long")
    return staged.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("__t").cast("long").alias("n_chars"),
        # nullif: empty text must yield NULL like SQL engines, not 0/0=NaN
        F.round(n_nonspace / F.nullif(n_tok, F.lit(0)), 4).alias("avg_tok_len"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals: alpha ratio, space ratio, token count.

    The composite ``quality`` is a plain weighted expression so it stays
    in codegen; thresholds are the caller's policy.
    """
    n_chars = F.nullif(F.length(text_col).cast("long"), F.lit(0))
    alpha = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", "")).cast("long")
    spaces = n_chars - F.length(F.regexp_replace(F.col(text_col), " ", "")).cast("long")
    w = words_col(text_col)
    return docs.select(
        "doc_id",
        F.round(alpha / n_chars, 4).alias("alpha_ratio"),
        F.round(spaces / n_chars, 4).alias("space_ratio"),
        F.size(w).cast("long").alias("n_tokens"),
        F.round(
            (alpha / n_chars) * 0.5
            + (spaces / n_chars) * 0.3
            + F.least(F.size(w) / F.lit(100.0), F.lit(1.0)) * 0.2,
            4,
        ).alias("quality"),
    )


#: Gopher rule stop-word set (Rae et al. 2021 §A1.1: a doc must contain
#: at least 2 of these to pass the "contains common English words" rule)
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """X187 Gopher quality rules (Rae et al. 2021, §A1.1 — the
    rule-based document filter every big English web corpus since
    MassiveText applies before model-based scoring): word-count bounds,
    mean-word-length window [3, 10], symbol-to-word ratio (# and
    ellipsis) <= 0.1, <= 90% of lines starting with a bullet, <= 30%
    ending with an ellipsis, >= 80% of words containing an alphabetic
    character, and >= 2 distinct common-English stop words. Emits the
    exact signals plus the composite verdict::

        (doc_id, n_words, mean_wlen, symbol_ratio, bullet_ratio,
         ellipsis_ratio, alpha_word_ratio, stop_hits, pass_gopher)

    Every signal is a pure column expression (codegen, zero shuffle,
    per-row work at any corpus size) with an exact ANSI-SQL twin —
    fully ORACLED, unlike the model-based quality family. Empty docs
    emit NULL ratios and ``pass_gopher = false`` (no evidence fails
    closed, the filter's semantics).
    """
    t = F.col(text_col)
    w = words_col(text_col)
    n_words = F.size(w).cast("long")
    nzw = F.nullif(n_words, F.lit(0))
    nospace = F.length(F.regexp_replace(t, r"\s+", "")).cast("long")
    mean_wlen = nospace / nzw
    n_hash = (F.length(t) - F.length(F.translate(t, "#", ""))).cast("long")
    n_ellipsis = (
        (F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))) / 3
    ).cast("long")
    symbol_ratio = (n_hash + n_ellipsis) / nzw
    lines = F.split(t, "\n")
    n_lines = F.nullif(F.size(lines).cast("long"), F.lit(0))
    q = _sql_ident(text_col)
    bullet = F.size(
        F.expr(
            f"filter(split({q}, '\\n'), l -> "
            "ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%' "
            "OR ltrim(l) LIKE '•%')"
        )
    ).cast("long")
    ell_end = F.size(
        F.expr(
            f"filter(split({q}, '\\n'), l -> rtrim(l) LIKE '%...')"
        )
    ).cast("long")
    alpha_words = F.size(
        F.expr(
            f"filter({_WORDS_SQL(q)}, w -> w RLIKE '[A-Za-z]')"
        )
    ).cast("long")
    padded = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    stop_hits = None
    for s in _GOPHER_STOPS:
        hit = F.when(padded.like(f"% {s} %"), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    ratios = {
        "mean_wlen": mean_wlen,
        "symbol_ratio": symbol_ratio,
        "bullet_ratio": bullet / n_lines,
        "ellipsis_ratio": ell_end / n_lines,
        "alpha_word_ratio": alpha_words / nzw,
    }
    ok = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wlen >= 3)
        & (mean_wlen <= 10)
        & (symbol_ratio <= 0.1)
        & (bullet / n_lines <= 0.9)
        & (ell_end / n_lines <= 0.3)
        & (alpha_words / nzw >= 0.8)
        & (stop_hits >= 2)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        *[F.round(c, 4).alias(name) for name, c in ratios.items()],
        stop_hits.cast("int").alias("stop_hits"),
        F.coalesce(ok, F.lit(False)).alias("pass_gopher"),
    )


def c4_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_sentences: int = 3,
    min_line_words: int = 5,
) -> DataFrame:
    """X188 C4 cleaning rules (Raffel et al. 2020 §2.2 — the filter
    that built C4 from Common Crawl, the companion to
    :func:`gopher_rules`' doc-level statistics): line-level counts of
    the paper's drop conditions plus the doc-level verdict signals::

        (doc_id, n_lines, n_terminal_lines, n_short_lines,
         n_brace_lines, has_lorem, has_javascript, n_sentences,
         pass_c4)

    - ``n_terminal_lines``: lines ending in terminal punctuation
      (. ! ? ") after rtrim — C4 keeps only such lines;
    - ``n_short_lines``: lines with fewer than ``min_line_words``
      words (C4 drops them);
    - ``n_brace_lines``: lines containing ``{`` or ``}`` (code smell —
      C4 drops any page with a brace);
    - ``has_lorem`` / ``has_javascript``: the paper's phrase/token
      page-level drops (case-insensitive);
    - ``n_sentences``: terminal-punctuation count as the sentence
      proxy; C4 keeps pages with >= ``min_sentences``;
    - ``pass_c4``: >= min_sentences AND no brace line AND no lorem
      ipsum AND no 'javascript' token AND at least one terminal line.

    Pure column expressions with an exact ANSI-SQL twin (fully
    oracled); empty docs fail closed. The line-level counts are emitted
    rather than a rewritten text so callers can implement either the
    page-drop (filter on ``pass_c4``) or the line-drop variant (join
    back and keep terminal lines) without re-parsing.
    """
    t = F.col(text_col)
    lines_expr = f"split({_sql_ident(text_col)}, '\\n')"
    n_lines = F.size(F.split(t, "\n")).cast("long")
    terminal = F.size(
        F.expr(
            f"filter({lines_expr}, l -> rtrim(l) RLIKE '[.!?\"]$')"
        )
    ).cast("long")
    short = F.size(
        F.expr(
            f"filter({lines_expr}, l -> size(filter(split(regexp_replace("
            "trim(l), '\\\\s+', ' '), ' '), w -> w != '')) < "
            f"{int(min_line_words)})"
        )
    ).cast("long")
    brace = F.size(
        F.expr(
            f"filter({lines_expr}, l -> l LIKE '%{{%' OR l LIKE '%}}%')"
        )
    ).cast("long")
    low = F.lower(t)
    has_lorem = low.contains("lorem ipsum")
    has_js = low.contains("javascript")
    n_sent = (
        F.length(t) - F.length(F.regexp_replace(t, r"[.!?]", ""))
    ).cast("long")
    ok = (
        (n_sent >= min_sentences)
        & (brace == 0)
        & ~has_lorem
        & ~has_js
        & (terminal >= 1)
    )
    return docs.select(
        "doc_id",
        n_lines.alias("n_lines"),
        terminal.alias("n_terminal_lines"),
        short.alias("n_short_lines"),
        brace.alias("n_brace_lines"),
        has_lorem.alias("has_lorem"),
        has_js.alias("has_javascript"),
        n_sent.alias("n_sentences"),
        F.coalesce(ok, F.lit(False)).alias("pass_c4"),
    )


def _sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled), safe to interpolate into an ``F.expr`` string."""
    return "`" + name.replace("`", "``") + "`"


def _WORDS_SQL(text_col: str) -> str:
    """The :func:`words_col` expression as a SQL string (for lambdas
    that must filter the SAME word array the operators count)."""
    return (
        f"CASE WHEN length(trim({text_col})) = 0 THEN "
        "CAST(array() AS array<string>) ELSE "
        f"split(regexp_replace(trim({text_col}), '\\\\s+', ' '), ' ') END"
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-based language ID (n-gram-heuristic family, deliberately
    simple so it is oracle-checkable in ANSI SQL): counts English
    stopword-marker hits; >=1 hit -> 'en'."""
    lowered = F.lower(F.col(text_col))
    score = None
    for m in _EN_MARKERS:
        hit = F.when(lowered.like(f"%{m}%"), 1).otherwise(0)
        score = hit if score is None else score + hit
    return docs.select(
        "doc_id",
        score.cast("int").alias("en_score"),
        F.when(score >= 1, "en").otherwise("other").alias("lang_pred"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of normalized text plus a
    64-bit xxhash (the fast-dedup key)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        F.xxhash64(norm).alias("fp_xx64"),
    )


def repetition_score(
    docs: DataFrame, text_col: str = "text", k: int = 2
) -> DataFrame:
    """Intra-document repetition (Gopher-style quality filter): the
    fraction of word k-grams that are repeats of an earlier k-gram in
    the SAME document — high values flag boilerplate/spam that
    cross-document dedup never sees.

    Pure column expressions (``regexp_extract_all`` k-gram array +
    ``array_distinct``), whole-stage codegen, zero shuffle, zero UDF —
    per-row work at any corpus size. Output: ``(doc_id, n_grams,
    n_distinct, rep_ratio)``; docs too short for a k-gram get
    ``n_grams = 0`` and a null ratio.
    """
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    pat = r"(?:^|(?<= ))(?=(\S+" + r" \S+" * (k - 1) + r"))"
    grams = F.regexp_extract_all(norm, F.lit(pat), 1)
    n = F.size(grams).cast("long")
    nd = F.size(F.array_distinct(grams)).cast("long")
    return docs.select(
        "doc_id",
        n.alias("n_grams"),
        nd.alias("n_distinct"),
        F.round((n - nd) / F.nullif(n.cast("double"), F.lit(0.0)), 4).alias(
            "rep_ratio"
        ),
    )


def pattern_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Surface-pattern signals for corpus filtering: digit density, URL
    and email mention counts — the cheap structural features quality
    classifiers cut on (and the first pass of PII triage). Plain
    ``regexp_count`` projections in codegen; patterns are deliberately
    conservative so ANSI engines agree byte-for-byte.
    """
    t = F.col(text_col)
    n_chars = F.nullif(F.length(t).cast("long"), F.lit(0))
    digits = F.regexp_count(t, F.lit(r"[0-9]")).cast("long")
    return docs.select(
        "doc_id",
        digits.alias("n_digits"),
        F.regexp_count(t, F.lit(r"https?://[^ ]+")).cast("long").alias("n_urls"),
        F.regexp_count(
            t, F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
        )
        .cast("long")
        .alias("n_emails"),
        F.round(digits / n_chars, 4).alias("digit_ratio"),
    )


def vocab_growth(
    docs: DataFrame,
    text_col: str = "text",
    order_col: str = "doc_id",
    bucket_size: int = 1000,
    hash_tokens: bool = False,
) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve over corpus position: how
    many NEW distinct tokens each ``order_col``-range bucket of documents
    contributes, with running vocabulary size and running token count —
    the standard "is this crawl still adding language or just volume"
    diagnostic for training-data collection.

    A token is credited to the FIRST bucket (by ``order_col`` order) any
    document containing it appears in. Output, one row per non-empty
    bucket: ``(bucket, n_new_tokens, vocab_size, n_tokens, cum_tokens)``
    — all BIGINT, so the (cum_tokens, vocab_size) pairs plot the Heaps
    curve exactly.

    Plan, scale-first: first-sighting needs one explode + one groupBy on
    the token string (min(bucket) partial-aggregates map-side, so the
    shuffle carries one record per distinct (partition, token), not one
    per occurrence); per-bucket token counts deliberately AVOID the
    explode — ``sum(size(words))`` never shuffles token strings at all.
    The final cumulative window runs over one row per bucket (corpus
    span / bucket_size rows — thousands, not billions), which is the
    only single-task stage and is bounded by construction. At 100 TB the
    token-string shuffle is the cost center: ``hash_tokens=True`` swaps
    the groupBy key for the X1 two-lane-xxhash 128-bit content key (16
    fixed bytes per distinct token through the shuffle instead of the
    string) — the curve is then exact up to ~7e-22 collision odds at
    10^12 types, but loses the DuckDB-oracle twin, which is why the
    default stays exact strings (equality pinned in tests).

    Negative ``order_col`` values bucket by floor division (Spark
    semantics); the DuckDB oracle twin pins non-negative ids only.
    Rows with NULL ``order_col`` are EXCLUDED up front: a NULL bucket
    would silently swallow first-sightings (min over only-NULL buckets
    yields a NULL news row that a null-rejecting equi-join drops), so
    the curve would undercount without this filter.
    """
    if bucket_size < 1:
        raise ValueError(f"bucket_size must be >= 1, got {bucket_size}")
    from pyspark.sql import Window

    docs = docs.filter(F.col(order_col).isNotNull())
    w = words_col(text_col)
    b = F.floor(F.col(order_col) / F.lit(bucket_size)).cast("long")
    toks = docs.select(b.alias("bucket"), F.explode(w).alias("tok"))
    if hash_tokens:
        # X1's birthday-safe 128-bit content key: 16 fixed bytes per
        # distinct token through the first-sighting shuffle
        toks = toks.select(
            "bucket",
            F.xxhash64(F.lit(0), "tok").alias("__t0"),
            F.xxhash64(F.lit(1), "tok").alias("__t1"),
        )
        first_key = ["__t0", "__t1"]
    else:
        first_key = ["tok"]
    news = (
        toks.groupBy(*first_key)
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_tokens"))
    )
    occ = (
        docs.select(b.alias("bucket"), F.size(w).cast("long").alias("__n"))
        .groupBy("bucket")
        .agg(F.sum("__n").cast("long").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        occ.join(news, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_new_tokens", F.lit(0)).cast("long").alias(
                "n_new_tokens"
            ),
            "n_tokens",
        )
        .select(
            "bucket",
            "n_new_tokens",
            F.sum("n_new_tokens").over(cum).cast("long").alias("vocab_size"),
            "n_tokens",
            F.sum("n_tokens").over(cum).cast("long").alias("cum_tokens"),
        )
    )


def characteristic_terms(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document characteristic terms: the k tokens that best
    distinguish each document, ranked tf-idf-style but with an EXACT
    integer weight — ``tf * (N intdiv df)`` (term frequency times the
    integer rarity ``corpus_docs // doc_frequency``) — so the ranking,
    and therefore the survivor set, is bit-identical on any engine (a
    float ``tf*log(N/df)`` score would make the top-k boundary depend on
    engine-specific transcendental rounding). Ties break on token text
    ascending; ``rn`` is the 1-based rank.

    Output: ``(doc_id, tok, tf, df, weight, rn)``, all counts BIGINT.

    Plan, scale-first: ONE explode feeding a (doc, token) count whose
    partial aggregation collapses repeats map-side; doc frequency is a
    ``count over (partition by tok)`` window on that SAME relation —
    deliberately not a ``tf.groupBy(tok)`` + join back, which (a) makes
    Spark recompute the whole explode+agg a second time (no declarative
    subplan reuse) and (b) ends in a vocabulary-sized join that is NOT
    broadcastable at web scale. The corpus size N is the only extra
    input, a count-only single-row broadcast. The final per-doc top-k
    is a rank filter that WindowGroupLimit prunes to local top-k before
    the shuffle (same property as keep_top_k / keep_latest). Total: one
    corpus explode, shuffles on (doc,tok) -> tok -> doc, no token join.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    tf = (
        # staged __ws + explode_outer + null filter: one parse per row
        # (a plain explode makes the optimizer synthesize size(ws) > 0
        # and push it below the projection with the split inlined —
        # PLANS.md "InferFiltersFromGenerate trap")
        docs.select("doc_id", words_col(text_col).alias("__ws"))
        .select("doc_id", F.explode_outer("__ws").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    n_docs = docs.filter(F.size(words_col(text_col)) > 0).select(
        F.count(F.lit(1)).cast("long").alias("__nd")
    )
    wdf = Window.partitionBy("tok")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(wdf).cast("long"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            # ints < 2^53 are exact in double, and positive truncation
            # equals intdiv — the oracle twin is DuckDB's `//`
            (F.col("tf") * F.floor(F.col("__nd") / F.col("df")).cast("long"))
            .cast("long")
            .alias("weight"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), F.col("tok").asc()
    )
    return scored.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).filter(F.col("rn") <= k)


def vocab_growth_approx(
    docs: DataFrame,
    text_col: str = "text",
    order_col: str = "doc_id",
    bucket_size: int = 1000,
    lg_k: int = 12,
) -> DataFrame:
    """Sketch-based vocabulary-growth curve — the 100 TB escape hatch
    for :func:`vocab_growth`, mirroring the X12 exact / X24 sketch
    pairing. The exact path's token groupBy shuffles one record per
    distinct token, which at a true web vocabulary (1e9+ types) is a
    heavyweight shuffle run for every curve refresh; this variant
    aggregates each bucket into ONE fixed-size (2^lg_k registers)
    Apache DataSketches HLL, so the shuffle payload is
    ``n_buckets * ~4 KB`` regardless of vocabulary size, and the
    cumulative union composes per-bucket sketches instead of
    re-scanning prior buckets.

    Output: ``(bucket, n_tokens, cum_tokens, vocab_est)`` where
    ``vocab_est`` is the estimated DISTINCT tokens seen in buckets
    ``<= bucket`` (standard HLL error ~1.04/sqrt(2^lg_k), ~1.6% at the
    default). Exact-token totals stay exact (no sketch needed — they
    are plain sums).

    Plan: one explode + per-bucket sketch agg (mergeable, map-side
    partial); the sketch relation is then eagerly localCheckpoint-ed —
    it appears on BOTH sides of the cumulative self-join, and without
    the materialization Spark recomputes the whole corpus explode +
    sketch aggregation a second time (no declarative subplan reuse —
    the same double-explode flaw the char_terms/source_drift audit
    caught; verified on the executed plan). The cumulative union is a
    bucket x bucket triangular self-join over the checkpointed SKETCH
    rows only — n_buckets^2 sketch merges, thousands at most, never
    touching token data again. Rows with NULL ``order_col`` are
    excluded (same contract as :func:`vocab_growth`). No SQL oracle
    (sketch internals are engine-specific); pinned against the exact
    curve in tests.
    """
    if bucket_size < 1:
        raise ValueError(f"bucket_size must be >= 1, got {bucket_size}")
    docs = docs.filter(F.col(order_col).isNotNull())
    w = words_col(text_col)
    b = F.floor(F.col(order_col) / F.lit(bucket_size)).cast("long")
    sk = (
        docs.select(b.alias("bucket"), F.explode(w).alias("tok"))
        .groupBy("bucket")
        .agg(F.hll_sketch_agg("tok", F.lit(lg_k)).alias("sk"))
        # bucket-count-sized (fixed ~4 KB sketches); pays the corpus
        # explode exactly once for both sides of the self-join below
        .localCheckpoint(eager=True)
    )
    occ = (
        docs.select(b.alias("bucket"), F.size(w).cast("long").alias("__n"))
        .groupBy("bucket")
        .agg(F.sum("__n").cast("long").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    cum = (
        sk.alias("a")
        .join(
            F.broadcast(sk.select(F.col("bucket").alias("b2"), F.col("sk").alias("sk2"))),
            F.col("a.bucket") >= F.col("b2"),
        )
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk2"))
            .cast("long")
            .alias("vocab_est")
        )
    )
    from pyspark.sql import Window

    run = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        occ.select(
            "bucket",
            "n_tokens",
            F.sum("n_tokens").over(run).cast("long").alias("cum_tokens"),
        )
        .join(cum, "bucket", "left")
    )


def source_divergence(
    docs: DataFrame,
    src_a: str,
    src_b: str,
    text_col: str = "text",
    source_col: str = "source",
    top_n: int = 20,
) -> DataFrame:
    """Token-distribution drift between two corpus sources: the top_n
    tokens whose usage RATE differs most between ``src_a`` and ``src_b``
    — the first diagnostic when a crawl source shifts domain, language
    mix, or boilerplate (and the contamination probe when one "source"
    is an eval set). Scored by the exact cross term
    ``|c_a * n_b - c_b * n_a|`` (count in one source times the OTHER
    source's total), which is ``n_a * n_b * |rate_a - rate_b|`` cleared
    of division — all-BIGINT, so ranking and survivors are bit-stable
    across engines. Exactness bound: ``max(c) * max(n) < 2^63`` holds
    through ~3e9 tokens per side; beyond that compute double rates
    (the ordering no longer needs exactness once counts dwarf any
    plausible tie).

    Output: ``(tok, c_a, c_b, score, rn)``, rn 1-based by
    (score desc, tok asc).

    Plan: one explode into a single conditional-count groupBy on the
    token (both sources counted in one pass, partial-agg map-side);
    per-source token TOTALS come from an explode-free ``sum(size(
    words))`` scan — summing totals from the per-token counts would
    force Spark to recompute the whole explode + vocabulary aggregation
    a second time (no declarative subplan reuse). The global top-n is an
    ``orderBy().limit()`` the optimizer plans as TakeOrderedAndProject —
    distributed per-partition top-n + driver merge of n-row heads, never
    a single-task global sort. The rank column is added AFTER the limit,
    over top_n rows.
    """
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    from pyspark.sql import Window

    is_a = F.col(source_col) == src_a
    both = docs.filter(is_a | (F.col(source_col) == src_b))
    toks = (
        # staged + explode_outer for the same one-parse-per-row reason
        # as characteristic_terms (InferFiltersFromGenerate trap)
        both.select(is_a.alias("__a"), words_col(text_col).alias("__ws"))
        .select("__a", F.explode_outer("__ws").alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    counts = toks.groupBy("tok").agg(
        F.count_if(F.col("__a")).cast("long").alias("c_a"),
        F.count_if(~F.col("__a")).cast("long").alias("c_b"),
    )
    n_tok = F.size(words_col(text_col)).cast("long")
    totals = both.select(
        F.sum(F.when(is_a, n_tok).otherwise(F.lit(0))).cast("long").alias("__na"),
        F.sum(F.when(~is_a, n_tok).otherwise(F.lit(0))).cast("long").alias("__nb"),
    )
    scored = counts.crossJoin(F.broadcast(totals)).select(
        "tok",
        "c_a",
        "c_b",
        F.abs(F.col("c_a") * F.col("__nb") - F.col("c_b") * F.col("__na"))
        .cast("long")
        .alias("score"),
    )
    top = scored.orderBy(F.col("score").desc(), F.col("tok").asc()).limit(top_n)
    w = Window.orderBy(F.col("score").desc(), F.col("tok").asc())
    return top.withColumn("rn", F.row_number().over(w).cast("long"))


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 512,
    stride: int | None = None,
    carry_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Split each document into fixed-size token windows — the
    context-window chunking step that turns raw documents into
    training-sequence candidates (e.g. 512-token chunks with a 384
    stride for 25% overlap). The final partial chunk is kept (standard
    practice; filter ``n_tokens`` on the caller side to drop tails).

    ``stride`` defaults to ``chunk_tokens`` (non-overlapping);
    ``stride < chunk_tokens`` overlaps, ``stride > chunk_tokens``
    subsamples with gaps. Empty docs produce no chunks. Output:
    ``doc_id`` (+ any ``carry_cols``), ``chunk_id`` (0-based),
    ``start_tok`` (1-based first token ordinal), ``n_tokens`` (BIGINT,
    <= chunk_tokens), ``chunk_text`` (the window re-joined with single
    spaces — tokenization is the shared whitespace-collapse convention,
    so re-chunking the chunk is the identity).

    Plan: pure column expressions end to end — words array, a
    ``sequence(1, n, stride)`` explode, ``slice`` + ``array_join`` —
    ZERO shuffles at any corpus size; output rows stream straight to
    the consumer (typically seq_pack, X30, which does the packing
    shuffle). Each input row fans out to ceil(n/stride) rows, so
    partition output size scales with document length — pair with a
    pre-repartition if the corpus mixes books and tweets and downstream
    is width-sensitive. The text is PARSED EXACTLY ONCE per row: the
    words array is staged as its own projection column, empty docs are
    dropped by a post-Generate filter instead of a pre-filter (predicate
    pushdown substitutes aliases, so any pre-Generate filter re-runs
    the split per row — the InferFiltersFromGenerate trap, PLANS.md),
    and explode_outer keeps the optimizer from synthesizing one.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    stride = chunk_tokens if stride is None else stride
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    carry = list(carry_cols) if carry_cols is not None else []
    base = docs.select("doc_id", *carry, words_col(text_col).alias("__ws"))
    # greatest(n, 1): sequence errors on start > stop with an explicit
    # step, so empty docs get a single start=1 whose empty slice is
    # dropped by the n_tokens filter below (cheap attribute slice, no
    # re-parse)
    exploded = base.select(
        "doc_id",
        *carry,
        "__ws",
        F.explode_outer(
            F.sequence(
                F.lit(1), F.greatest(F.size("__ws"), F.lit(1)), F.lit(stride)
            )
        ).alias("start_tok"),
    )
    piece = F.slice(F.col("__ws"), F.col("start_tok"), chunk_tokens)
    staged = exploded.select(
        "doc_id",
        *carry,
        F.col("start_tok").cast("long").alias("start_tok"),
        piece.alias("__piece"),
    )
    return staged.select(
        "doc_id",
        *carry,
        ((F.col("start_tok") - 1) / F.lit(stride)).cast("long").alias("chunk_id"),
        "start_tok",
        F.size("__piece").cast("long").alias("n_tokens"),
        F.array_join("__piece", " ").alias("chunk_text"),
    ).filter(F.col("n_tokens") > 0)


#: BPE-granularity token pattern: letter runs stay whole (word pieces),
#: digits split one per token (GPT-2 convention), punctuation splits one
#: per token. Deliberately restricted to a regex subset Java (Spark) and
#: RE2 (DuckDB, for the oracle twin) treat identically.
_BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Subword-granularity token counting — the "how many tokens will
    the tokenizer actually bill for this" estimate, next to the
    whitespace count (a budget planner needs both: corpus quotas are
    set in tokenizer tokens, quality heuristics in words). The pattern
    is BPE-ish, not a real BPE: letter runs whole, digits and
    punctuation one per token — the granularity GPT-2-family
    pre-tokenizers produce before merges, computable as a single
    ``regexp_count`` in whole-stage codegen with zero Python and zero
    shuffle.

    Output: ``(doc_id, n_bpe_tokens, n_ws_tokens, fertility)`` where
    fertility = bpe/words (the standard tokenizer-efficiency ratio;
    null for empty docs).
    """
    t = F.col(text_col)
    n_bpe = F.regexp_count(t, F.lit(_BPE_PATTERN)).cast("long")
    n_ws = F.size(words_col(text_col)).cast("long")
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        F.round(n_bpe / F.nullif(n_ws, F.lit(0)), 4).alias("fertility"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the
    MOSS algorithm): hash every k-token shingle, slide a window of w
    consecutive shingle hashes, keep each window's MINIMUM — the
    guarantee is that any shared token run of length >= w + k - 1
    between two documents shares at least one fingerprint, while only
    ~2/(w+1) of shingles are kept. This is the PARTIAL-overlap
    detector: exact dedup (X1) needs identical docs, near-dup (X2-X4)
    needs globally similar docs — winnowing catches a paragraph lifted
    into an otherwise different document.

    Output: ``(doc_id, fp)``, the distinct fingerprint set per doc
    (fp = xxhash64 of the shingle text). Docs with fewer than k tokens
    emit nothing; k <= tokens < k+w-1 emits the single overall minimum.

    Plan: pure per-row column expressions — higher-order ``transform``
    over a position sequence builds shingle hashes, a second
    ``transform`` takes window minima, ``array_distinct`` + one explode
    emits the set. Zero Python, zero shuffle; the ~2/(w+1) selection
    means the exploded output is a small fraction of token volume.
    EACH STAGE IS A SEPARATE PROJECTION on purpose: nesting the
    transforms in one expression made Catalyst inline the inner array
    into every lambda reference — the window-min pass re-split and
    re-hashed the whole document PER WINDOW, O(m^2) work per row
    (measured 0.13 s/doc before the split; 1000x less after). The
    multi-reference aliases are non-cheap, so CollapseProject keeps the
    stages separate. Downstream overlap join: :func:`winnow_overlap`.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    d1 = docs.select("doc_id", words_col(text_col).alias("__ws"))
    m = F.size("__ws") - F.lit(k - 1)  # shingle count
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — every
    # too-short case must short-circuit to an explicit empty array
    hs = F.when(m < 1, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
            lambda i: F.xxhash64(F.array_join(F.slice(F.col("__ws"), i, k), " ")),
        )
    )
    d2 = d1.select("doc_id", hs.alias("__hs"))
    n_win = F.greatest(F.size("__hs") - F.lit(w - 1), F.lit(1))
    fps = F.when(
        F.size("__hs") < 1, F.array().cast("array<bigint>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda j: F.array_min(F.slice(F.col("__hs"), j, w)),
        )
    )
    # explode_outer, NOT explode: for a plain explode the optimizer's
    # InferFiltersFromGenerate rule synthesizes a size(__fps) > 0
    # filter and predicate pushdown drags it below the staged
    # projections with the whole winnowing tree inlined — re-running
    # the O(m^2) expression once more per row (measured 29 s -> 0.5 s
    # for 500 docs). explode_outer infers no filter; the null row an
    # empty array produces is dropped ABOVE the Generate, where the
    # predicate references the generated column and cannot sink.
    return (
        d2.select("doc_id", F.array_distinct(fps).alias("__fps"))
        .select("doc_id", F.explode_outer("__fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


def winnow_overlap(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_docs_per_fp: int = 100,
) -> DataFrame:
    """Partial-overlap pairs via shared winnowing fingerprints: doc
    pairs sharing >= ``min_shared`` fingerprints (each shared
    fingerprint witnesses a shared k-token run). ``max_docs_per_fp``
    drops boilerplate fingerprints appearing in more docs than that
    BEFORE the pairwise stage — the standard guard, since a fingerprint
    shared by f docs contributes f^2 candidate pairs (same hot-bucket
    shape as X29's shingle profile, same fix).

    Plan: fingerprints -> groupBy(fp) doc-count -> filter -> self-join
    on fp (8-byte key equi-join) -> pair count agg. All shuffles carry
    hashes, never text. Output: ``(a, b, n_shared)``, a < b.
    """
    fps = winnow_fingerprints(docs, text_col, k=k, w=w)
    fps = fps.localCheckpoint(eager=True)  # used on both join sides
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") <= max_docs_per_fp)
        .select("fp")
    )
    keep = fps.join(rare, "fp")
    pairs = (
        keep.alias("l")
        .join(keep.alias("r"), "fp")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(
            F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs


#: shared with pattern_counts — these exact regexes are already proven
#: cross-engine (Java and RE2) by the pattern_counts driver oracle
_URL_RE = r"https?://[^ ]+"
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_LONGNUM_RE = r"[0-9]{6,}"


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Surface-pattern PII redaction: mask emails, URLs and long digit
    runs (>= 6 — phone/account/ID shapes) with typed placeholder tokens
    — the ACTION to X27 pattern_counts' detection signal, and the
    standard first scrub before corpus release. Email masking runs
    FIRST (an email contains no ``://`` so URL masking can't eat it,
    but a URL may contain an ``@`` userinfo part the email pattern
    would shred if it ran after URL tokens were gone — order is
    load-bearing and pinned in tests).

    Deliberately conservative regexes shared with
    :func:`pattern_counts`, so what gets counted is exactly what gets
    masked; anything subtler (names, addresses) needs a model, not a
    regex, and belongs behind the multimodal-style stub pattern.

    Output: ``(doc_id, text_redacted, n_redactions)`` — a pure
    three-``regexp_replace`` projection in whole-stage codegen, zero
    shuffle at any corpus size.
    """
    t = F.col(text_col)
    n = (
        F.regexp_count(t, F.lit(_EMAIL_RE))
        + F.regexp_count(t, F.lit(_URL_RE))
        # long-number hits OUTSIDE emails/URLs only — count on the
        # masked form so the three counts can't overlap
    )
    masked = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    n = n + F.regexp_count(masked, F.lit(_LONGNUM_RE))
    return docs.select(
        "doc_id",
        F.regexp_replace(masked, _LONGNUM_RE, "<NUM>").alias("text_redacted"),
        n.cast("long").alias("n_redactions"),
    )


def oov_stats(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` vocabulary — the "how much of this document will
    a fixed tokenizer vocabulary shatter into bytes" probe, and a
    standard quality/novelty axis next to :func:`quality_score` (a doc
    that is 60% OOV against its own corpus is usually noise, markup, or
    another language).

    The vocabulary is the top-V tokens under the TOTAL order
    ``(count DESC, token ASC)`` — ties at the boundary rank are broken
    on token text, so the survivor vocabulary (and every count derived
    from it) is bit-identical on any engine. Output per doc:
    ``(doc_id, n_tokens, n_oov)`` — the float rate derives outside the
    witness, the same all-BIGINT split as ``lag_corr_pieces``.

    Plan, scale-first: the corpus is parsed EXACTLY ONCE into the
    (doc, tok, cnt) term-frequency relation, which is localCheckpointed
    (doc-token-pair-sized — far smaller than the text; without the
    materialization Spark's no-declarative-subplan-reuse rule would
    re-parse the corpus for each of the three consumers below). From
    tf: the top-V is ``orderBy(...).limit(V)`` which Spark plans as
    TakeOrderedAndProject — a distributed partial top-V per partition
    merged on the driver, NEVER a single-partition global window (the
    row_number-over-unpartitioned-window formulation serializes the
    whole vocabulary through one task at web scale); per-doc sizes are
    ``sum(cnt)``; the OOV count is a broadcast anti-join against the
    V-row vocab summing the same cnt.
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    tf = (
        docs.select("doc_id", words_col(text_col).alias("__ws"))
        .select("doc_id", F.explode_outer("__ws").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    vocab = (
        tf.groupBy("tok")
        .agg(F.sum("cnt").alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok")
    )
    oov = (
        tf.join(F.broadcast(vocab), "tok", "left_anti")
        .groupBy("doc_id")
        .agg(F.sum("cnt").cast("long").alias("n_oov"))
    )
    sizes = tf.groupBy("doc_id").agg(F.sum("cnt").cast("long").alias("n_tokens"))
    return sizes.join(oov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
    )


def bigram_pmi_pieces(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Exact integer pieces of adjacent-bigram PMI — collocation mining
    (Church/Hanks 1990), the signal a tokenizer-training or phrase-merge
    pass ranks candidate merges by. PMI itself is
    ``ln(c_ab * n_pairs / (c_a * c_b))``; emitting the log would put a
    transcendental on the hash boundary, so this returns the four exact
    BIGINT pieces per surviving bigram — ``pair_cnt`` (c_ab), ``left_cnt``
    (c_a as a bigram-left slot), ``right_cnt`` (c_b as a right slot),
    ``n_pairs`` (corpus total) — and the caller takes the log outside
    the witness. Slot-marginal counts (not raw unigram frequencies) keep
    ``sum(left_cnt over distinct w1) == n_pairs`` exactly, the textbook
    contingency normalization.

    ``min_count`` prunes the long tail BEFORE the marginal join — at web
    scale the surviving collocation table is millions of rows, not the
    raw bigram count.

    Plan: ONE corpus parse staged to (w1, w2) pairs via a sequence/
    transform over the words array (no posexplode self-join), then
    map-side-combined pair counts; the slot marginals are windows over
    the SAME counted relation (the characteristic_terms pattern — no
    vocabulary-sized join, no recompute); n_pairs is a single-row
    count broadcast.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from pyspark.sql import Window

    ws = docs.select(words_col(text_col).alias("__ws")).filter(
        F.size("__ws") >= 2
    )
    pair_arr = F.expr(
        "transform(sequence(1, size(__ws) - 1), "
        "i -> struct(element_at(__ws, i) AS w1, element_at(__ws, i + 1) AS w2))"
    )
    pairs = (
        ws.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_cnt"))
    )
    w_l = Window.partitionBy("w1")
    w_r = Window.partitionBy("w2")
    n_pairs = pairs.select(
        F.sum("pair_cnt").cast("long").alias("n_pairs")
    )
    return (
        pairs.withColumn("left_cnt", F.sum("pair_cnt").over(w_l).cast("long"))
        .withColumn("right_cnt", F.sum("pair_cnt").over(w_r).cast("long"))
        .filter(F.col("pair_cnt") >= min_count)
        .crossJoin(F.broadcast(n_pairs))
        .select("w1", "w2", "pair_cnt", "left_cnt", "right_cnt", "n_pairs")
    )


def bigram_lm_perplexity(
    docs: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
    train: DataFrame | None = None,
) -> DataFrame:
    """X184 bigram-LM perplexity scoring — THE classic corpus-quality
    filter (CCNet / Wenzek et al. 2020 score documents with a KenLM
    n-gram model and drop the high-perplexity tail; gibberish,
    boilerplate and wrong-language text all score high). Trains an
    add-``alpha``-smoothed bigram model on ``train`` (default: the
    scored corpus itself — self-perplexity, the usual in-corpus outlier
    signal) and scores every document:

    ``P(w2 | w1) = (c(w1 w2) + alpha) / (c(w1 .) + alpha * V)``

    with ``V`` the trained left-slot vocabulary size; a bigram whose
    ``w1`` was never seen in training backs off to the uniform
    ``alpha / (alpha * V)`` = ``1/V``. Output per doc:
    ``(doc_id, n_big, logprob, ppl)`` where ``logprob`` is the summed
    natural log-probability over the doc's adjacent bigrams and ``ppl =
    exp(-logprob / n_big)``; single-token/empty docs emit ``n_big=0``
    with NULL logprob/ppl (no evidence is not the same fact as perfect
    score). Rows-only by house policy: ``ln`` is a transcendental, and
    the witness discipline keeps those off the oracle hash boundary —
    pinned bit-tight (rel 1e-12) against a pure-Python reference in
    pytest instead.

    Plan (one corpus parse each for train and score): train-side
    map-side-combined pair counts + a left-marginal window over the SAME
    counted relation (the :func:`bigram_pmi_pieces` pattern — no
    vocabulary join, no recompute); score-side bigrams LEFT-join the
    pair table on ``(w1, w2)`` (one shuffle each side; AQE broadcasts a
    small model) and aggregate per doc. V is a 1-row broadcast. No
    Python anywhere — ``ln`` runs in whole-stage codegen.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    from pyspark.sql import Window

    tr = train if train is not None else docs
    pair_arr = F.expr(
        "transform(sequence(1, size(__ws) - 1), "
        "i -> struct(element_at(__ws, i) AS w1, element_at(__ws, i + 1) AS w2))"
    )
    tr_pairs = (
        tr.select(words_col(text_col).alias("__ws"))
        .filter(F.size("__ws") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_cnt"))
    )
    model = tr_pairs.withColumn(
        "left_cnt", F.sum("pair_cnt").over(Window.partitionBy("w1")).cast("long")
    )
    vocab = model.select(F.count_distinct("w1").cast("long").alias("__V"))
    # explode_outer: a <2-token doc's pair array is forced EMPTY (a bare
    # sequence(1, size-1) would count DOWN [1, 0] for size=1 and index
    # out of bounds), and the outer explode keeps the doc as one
    # all-NULL bigram row — so n_big=0 docs survive to the output
    # instead of vanishing
    safe_pairs = F.when(F.size("__ws") >= 2, pair_arr).otherwise(
        F.expr("CAST(array() AS array<struct<w1:string,w2:string>>)")
    )
    doc_bigrams = (
        docs.select(F.col("doc_id"), words_col(text_col).alias("__ws"))
        .select("doc_id", F.explode_outer(safe_pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    # distinct-w1-sized marginal relation for the backoff lookups
    # (left_cnt is NULL after the pair join BOTH for unseen-(w1,w2) and
    # unseen-w1 — the separate marginal disambiguates the two)
    w1_marg = model.groupBy("w1").agg(F.max("left_cnt").alias("__w1_cnt"))
    scored = (
        doc_bigrams.join(model.select("w1", "w2", "pair_cnt"), ["w1", "w2"], "left")
        .join(w1_marg, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
    )
    num = F.coalesce(F.col("pair_cnt"), F.lit(0)) + F.lit(float(alpha))
    den = F.coalesce(F.col("__w1_cnt"), F.lit(0)) + F.lit(float(alpha)) * F.col(
        "__V"
    )
    term = F.when(F.col("w1").isNotNull(), F.log(num / den))
    out = scored.groupBy("doc_id").agg(
        F.count(F.col("w1")).cast("long").alias("n_big"),
        F.sum(term).alias("logprob"),
    )
    return out.select(
        "doc_id",
        "n_big",
        "logprob",
        F.when(
            F.col("n_big") > 0,
            F.exp(-F.col("logprob") / F.col("n_big")),
        ).alias("ppl"),
    )


def dsir_scores(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 0.5,
) -> DataFrame:
    """X185 DSIR importance scores (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling") — the standard
    recipe for skewing a raw web corpus toward a quality/domain target:
    featurize every doc into HASHED unigram+bigram buckets, fit add-
    ``alpha`` bucket distributions for the raw and target corpora, and
    score each raw doc with the summed log-likelihood ratio

    ``score(d) = sum_{f in d} ln( p_target(f) / p_raw(f) )``

    High scores read "target-like"; importance resampling then keeps
    docs with probability proportional to exp(score) — the repo's
    deterministic samplers (quality_select / weighted hash-cut) consume
    these scores directly. Output: ``(doc_id, n_feat, dsir_score)``;
    feature-less docs (empty text) emit ``n_feat=0`` with NULL score.

    Hashing (xxhash64 mod ``n_buckets``) is the point, not a shortcut:
    DSIR's estimator lives in a FIXED feature space, so both corpus
    distributions are ``n_buckets``-sized relations (broadcastable at
    any corpus scale) and an unseen raw n-gram still lands in a bucket
    with mass — no backoff machinery. Rows-only by house policy (ln off
    the hash boundary); pinned rel-1e-12 against a pure-Python
    reference in pytest.

    Plan: one parse per corpus -> per-bucket counts (map-side combined,
    n_buckets-sized output); the two distributions broadcast-join the
    raw side's per-doc bucket counts; everything JVM-side.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")

    def feats(df: DataFrame, with_doc: bool) -> DataFrame:
        ws = df.select(
            *(["doc_id"] if with_doc else []),
            words_col(text_col).alias("__ws"),
        )
        uni = F.expr("transform(__ws, w -> w)")
        bi = F.expr(
            "CASE WHEN size(__ws) >= 2 THEN transform(sequence(1, "
            "size(__ws) - 1), i -> concat(element_at(__ws, i), ' ', "
            "element_at(__ws, i + 1))) ELSE CAST(array() AS "
            "array<string>) END"
        )
        return ws.select(
            *(["doc_id"] if with_doc else []),
            F.explode_outer(F.concat(uni, bi)).alias("__f"),
        ).select(
            *(["doc_id"] if with_doc else []),
            F.when(
                F.col("__f").isNotNull(),
                F.pmod(F.xxhash64("__f"), F.lit(n_buckets)),
            ).alias("__b"),
        )

    def dist(df: DataFrame, name: str) -> DataFrame:
        cnt = (
            feats(df, with_doc=False)
            .where(F.col("__b").isNotNull())
            .groupBy("__b")
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        )
        tot = cnt.agg(F.sum("__c").cast("long").alias("__n"))
        return cnt.crossJoin(F.broadcast(tot)).select(
            "__b",
            (
                (F.col("__c") + F.lit(float(alpha)))
                / (F.col("__n") + F.lit(float(alpha)) * F.lit(n_buckets))
            ).alias(name),
            F.col("__n").alias(f"__n_{name}"),
        )

    p_t = dist(target, "__pt")
    p_r = dist(raw, "__pr")
    # bucket rows absent from a corpus still carry alpha mass: keep the
    # totals to reconstruct the unseen-bucket probability after the
    # outer-ish joins below (left joins + coalesce with alpha/(N+aB))
    nt = p_t.select(F.max("__n___pt").alias("n")).head()["n"] or 0
    nr = p_r.select(F.max("__n___pr").alias("n")).head()["n"] or 0
    floor_t = float(alpha) / (nt + float(alpha) * n_buckets)
    floor_r = float(alpha) / (nr + float(alpha) * n_buckets)
    doc_feats = feats(raw, with_doc=True)
    scored = (
        doc_feats.join(F.broadcast(p_t.select("__b", "__pt")), ["__b"], "left")
        .join(F.broadcast(p_r.select("__b", "__pr")), ["__b"], "left")
        .select(
            "doc_id",
            F.col("__b").isNotNull().alias("__has"),
            F.when(
                F.col("__b").isNotNull(),
                F.log(
                    F.coalesce(F.col("__pt"), F.lit(floor_t))
                    / F.coalesce(F.col("__pr"), F.lit(floor_r))
                ),
            ).alias("__t"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.when(F.col("__has"), 1)).cast("long").alias("n_feat"),
        F.sum("__t").alias("dsir_score"),
    )


def novelty_curve(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 2,
    order_col: str = "doc_id",
) -> DataFrame:
    """Per-document shingle novelty: of the document's distinct
    k-shingles, how many appear here for the FIRST time in corpus order
    — the marginal-information curve a crawl-scheduling / data-mixing
    pass uses to decide when a source has stopped contributing new
    content (complement of X29's duplication profile: dup_profile counts
    repeated mass, novelty attributes first sightings to their owner).

    First ownership is ``min(order_col)`` over the shingle's posting
    list — deterministic because ``order_col`` (the monotone ingest id)
    is unique per document. Output: ``(doc_id, n_shingles, n_novel)``,
    all BIGINT; the float novelty rate derives outside the witness.

    Plan: one shingle explode -> distinct(doc, shingle) with the hash
    partly collapsed map-side, then a min-window over the shingle's
    postings (the characteristic_terms pattern: a window on the SAME
    relation, not a groupBy+join that recomputes the explode), then a
    doc-keyed count. Shuffles on (doc,sh) -> sh -> doc; no joins at
    all, so there is nothing to skew except a pathological single
    shingle, which a min/count window absorbs as a streaming aggregate.
    """
    from pyspark.sql import Window

    from c3s_sm_spark.operators.dedup_text import _shingle_expr

    posting = (
        docs.select(
            F.col(order_col).alias("__ord"),
            F.explode_outer(_shingle_expr(text_col, k)).alias("sh"),
        )
        .filter(F.col("sh").isNotNull())
        .select("__ord", "sh")
        .distinct()
    )
    w = Window.partitionBy("sh")
    flagged = posting.withColumn("__first", F.min("__ord").over(w))
    return (
        flagged.groupBy(F.col("__ord").alias(order_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("__first") == F.col("__ord"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )


def rank_blend(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Rank-normalized quality blend: each raw signal (alphabetic-char
    count, space count, token count) is replaced by its corpus-wide
    rank under the total order ``(signal, doc_id)``, and the blend is
    the BIGINT rank sum — the standard way to combine incomparably
    scaled quality signals without any float weighting surface (the
    weighted-float composite lives in :func:`quality_score`; this is
    its scale-free sibling, and the witness is exact integers
    end-to-end).

    Each rank is a distributed two-phase global row_number
    (:func:`~c3s_sm_spark.operators.sampling.global_rank` — never the
    one-task unpartitioned window). The three calls CHAIN on one
    relation (global_rank preserves its input columns and
    localCheckpoints the slim signal frame), so the corpus text is
    parsed exactly once and no doc-keyed join-back exists at all —
    just three range shuffles + three partition-count-sized offset
    collects over a 4-column frame.
    """
    from c3s_sm_spark.operators.sampling import global_rank

    n_chars = F.length(text_col).cast("long")
    alpha = F.length(
        F.regexp_replace(F.col(text_col), "[^A-Za-z]", "")
    ).cast("long")
    spaces = (
        n_chars - F.length(F.regexp_replace(F.col(text_col), " ", "")).cast("long")
    )
    base = docs.select(
        "doc_id",
        alpha.alias("alpha"),
        spaces.alias("spaces"),
        F.size(words_col(text_col)).cast("long").alias("n_tokens"),
    )
    out = global_rank(
        global_rank(
            global_rank(base, ["alpha", "doc_id"], "rn_alpha"),
            ["spaces", "doc_id"],
            "rn_space",
        ),
        ["n_tokens", "doc_id"],
        "rn_tok",
    )
    return out.select(
        "doc_id",
        "rn_alpha",
        "rn_space",
        "rn_tok",
        (F.col("rn_alpha") + F.col("rn_space") + F.col("rn_tok"))
        .cast("long")
        .alias("rank_sum"),
    )


def phrase_merge_train(
    docs: DataFrame,
    n_merges: int = 10,
    min_count: int = 2,
    text_col: str = "text",
    return_corpus: bool = False,
    batch_k: int = 1,
) -> DataFrame:
    """BPE-style phrase-merge training at word granularity (the
    word2phrase / tokenizer-induction loop): for ``n_merges`` rounds,
    count adjacent token pairs across the corpus, pick the most frequent
    pair under the TOTAL order ``(count DESC, w1 ASC, w2 ASC)``, fuse
    every left-to-right non-overlapping occurrence into a single
    ``w1_w2`` token, repeat on the rewritten corpus. Stops early when no
    pair reaches ``min_count``. Deterministic end-to-end: the argmax
    order has no ties and the greedy rewrite is position-defined.

    Returns the merge table ``(merge_rank, w1, w2, pair_cnt)`` — the
    trained vocabulary delta, what a real BPE trainer persists. With
    ``return_corpus=True`` returns the rewritten corpus
    ``(doc_id, toks)`` after all merges instead.

    Scale shape (the honest BPE cost): one corpus pass per ROUND, each a
    map-side-combinable pair count + a TakeOrdered argmax + an
    Arrow-batched rewrite (``mapInPandas``, no per-row Python in the
    count path). Pair counts are computed on OVERLAPPING adjacency
    (standard counting; the rewrite is non-overlapping greedy — same
    convention as the reference BPE implementations). Each round's
    corpus is localCheckpointed and the previous round unpersisted, so
    lineage stays O(1) and memory holds ONE corpus copy; a 100 TB run
    swaps the localCheckpoint for a per-round snapshot-table write, the
    same trade documented at pack_sequences.

    ``batch_k`` (classic batched BPE, r4 verdict task 5): each round
    applies up to ``batch_k`` TOKEN-DISJOINT merges from one pair count,
    cutting the corpus passes ~``batch_k``-fold. Selection is greedy
    over the round's top ``4 * batch_k`` candidates in the same total
    order, skipping any pair sharing a token with one already accepted
    this round — disjointness makes the one-pass combined rewrite equal
    to applying the accepted merges sequentially, so determinism is
    preserved. ``pair_cnt`` for a batched merge is its count in the
    round's ONE pass (sequential mode recounts after every merge) —
    ranks can differ from ``batch_k=1`` for interacting pairs; the
    default stays exact-sequential.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if batch_k < 1:
        raise ValueError(f"batch_k must be >= 1, got {batch_k}")
    spark = docs.sparkSession
    cur = (
        docs.select("doc_id", words_col(text_col).alias("toks"))
        .filter(F.size("toks") >= 1)
        .localCheckpoint()
    )
    # arrays_zip(slice, slice) over transform(sequence, lambda):
    # identical pairs, but every function is native (codegen-able) —
    # measured 2x on the per-round count stage at sf0.1 (interpreted
    # lambdas are the shingles-docstring lesson applied again)
    pair_arr = F.expr(
        "arrays_zip(slice(toks, 1, size(toks) - 1), "
        "slice(toks, 2, size(toks) - 1))"
    )
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < n_merges:
        take = min(batch_k, n_merges - len(merges))
        top = (
            cur.filter(F.size("toks") >= 2)
            .select(F.explode(pair_arr).alias("p"))
            .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= min_count)
            .orderBy(F.col("c").desc(), F.col("w1").asc(), F.col("w2").asc())
            # bounded overfetch: each accepted pair blocks <= 2 tokens,
            # so 4*take candidates nearly always yield `take` disjoint
            # ones; a shallower yield just means an extra (cheap) round.
            # take=1 degenerates to the exact-sequential TakeOrdered(1).
            .limit(4 * take)
            .collect()
        )
        if not top:
            break
        used: set[str] = set()
        table: dict[tuple[str, str], str] = {}
        for r in top:
            if len(table) >= take:
                break
            w1, w2 = r["w1"], r["w2"]
            if w1 in used or w2 in used:
                continue
            merges.append((len(merges) + 1, w1, w2, int(r["c"])))
            table[(w1, w2)] = w1 + "_" + w2
            used.add(w1)
            used.add(w2)

        def _rewrite(batches, _t=dict(table)):
            for pdf in batches:
                if len(pdf):
                    pdf["toks"] = pdf["toks"].map(
                        lambda arr: _merge_batch(list(arr), _t)
                    )
                yield pdf

        # only docs that can possibly hold some accepted pair cross into
        # Python; the rest pass through JVM-side untouched
        # (array_contains is a superset of adjacency — non-adjacent
        # holders rewrite to themselves, which is correct and rare)
        may = F.lit(False)
        for w1, w2 in table:
            may = may | (
                F.array_contains("toks", w1) & F.array_contains("toks", w2)
            )
        nxt = (
            cur.where(may)
            .mapInPandas(_rewrite, schema=cur.schema)
            .unionByName(cur.where(~may))
            .localCheckpoint()
        )
        cur.unpersist()
        cur = nxt
    if return_corpus:
        return cur
    out_schema = "merge_rank int, w1 string, w2 string, pair_cnt long"
    if not merges:
        return spark.createDataFrame([], out_schema)
    return spark.createDataFrame(merges, out_schema)


def _merge_once(arr: list, w1: str, w2: str, fused: str) -> list:
    """Greedy left-to-right non-overlapping fuse of adjacent (w1, w2)."""
    return _merge_batch(arr, {(w1, w2): fused})


def _merge_batch(arr: list, table: dict) -> list:
    """Greedy left-to-right non-overlapping fuse of every adjacent pair
    in ``table`` (token-disjoint pairs: at most one can match at any
    position, so one pass equals sequential application)."""
    out = []
    i, n = 0, len(arr)
    while i < n:
        if i + 1 < n and (arr[i], arr[i + 1]) in table:
            out.append(table[(arr[i], arr[i + 1])])
            i += 2
        else:
            out.append(arr[i])
            i += 1
    return out


def token_diversity(
    docs: DataFrame, text_col: str = "text", group_col: str = "doc_id"
) -> DataFrame:
    """Per-group lexical-diversity pieces — the exact integer inputs
    to type-token ratio, Simpson's repeat concentration and Yule's K,
    the standard "is this document natural prose or keyword-stuffed /
    generated sludge" quality axes next to :func:`repetition_score`
    (which works on positional n-gram repeats; this one is
    order-free frequency concentration).

    Emits per doc (empty/whitespace-only docs are excluded, matching
    :func:`oov_stats`): ``n_tokens`` (total), ``n_distinct`` (types),
    ``sum_sq`` (sum of squared per-token counts), ``max_cnt`` (modal
    token count) — all BIGINT, so the witness hashes bit-stably. The
    float indices derive outside the hash boundary:
    ``TTR = n_distinct/n_tokens``, Simpson repeat-rate
    ``D = (sum_sq - n_tokens) / (n_tokens*(n_tokens-1))``, Yule's
    ``K = 1e4 * (sum_sq - n_tokens) / n_tokens^2``. Headroom:
    ``sum_sq <= n_tokens^2`` — int64-safe to ~3e9 tokens per doc.

    ``group_col`` defaults to per-document; pass ``"source"`` (or any
    grouping column) for corpus-slice diversity — the X109 dataset-card
    axis "is source S a diverse crawl or one template stamped 10^6
    times", same pieces aggregated at the group grain.

    Plan: the corpus is parsed EXACTLY ONCE into the (doc, tok, cnt)
    term-frequency relation (the same single-parse discipline as
    :func:`oov_stats`), then ONE map-side-combinable groupBy(doc_id)
    folds the four pieces; both shuffles move 8-byte counts, never
    text. No window, no join, no Python.
    """
    tf = (
        docs.select(group_col, words_col(text_col).alias("__ws"))
        .select(group_col, F.explode("__ws").alias("tok"))
        .groupBy(group_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = F.col("cnt")
    return tf.groupBy(group_col).agg(
        F.sum(c).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(c * c).cast("long").alias("sum_sq"),
        F.max(c).cast("long").alias("max_cnt"),
    )


def heavy_hitters(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 200,
) -> DataFrame:
    """EXACT corpus-wide heavy hitters — every token whose frequency
    exceeds ``N/k`` of the ``N``-token corpus — via the classic
    two-pass sketch-then-verify plan (Misra-Gries 1982; merge rule
    from Agarwal et al. 2012 "Mergeable Summaries"):

    Pass 1 (zero shuffle): each partition streams its token batches
    through a ``k``-counter Misra-Gries summary (pandas ``value_counts``
    per Arrow batch — C speed — folded into the running dict; when the
    dict exceeds ``k`` keys every count drops by the (k+1)-th largest
    and non-positives evict). MG guarantees per-partition undercount
    <= n_p/(k+1), so any token with GLOBAL count > N/k has local count
    > n_p/k on at least one partition (pigeonhole) and survives that
    partition's summary: the union of per-partition survivors is a
    SUPERSET of the true heavy hitters. The same pass emits each
    partition's token total, so the corpus never re-parses for ``N``.

    Pass 2 (candidate-only shuffle): re-parse, broadcast-semi-join the
    token stream to the <= partitions*k candidates, exact-count ONLY
    those, keep ``cnt * k > N``. Output is EXACT — the sketch only
    prunes, never decides — so the query stays under the full
    value-hash oracle.

    Why not ``token_freq``'s plain groupBy: that shuffles the ENTIRE
    vocabulary (every distinct token crosses the wire once per
    partition it appears in). Here the only shuffle is the recount of
    ~k survivors — at a 10^12-token corpus with millions of distinct
    tokens, that is the difference between a vocabulary-wide exchange
    and a constant-size one. Cost: two corpus parses — the standard
    exact-heavy-hitter trade (one-pass exact is impossible below
    Omega(vocabulary) memory).

    Emits ``(tok string, cnt bigint)``.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    toks = docs.select(words_col(text_col).alias("__ws")).select(
        F.explode("__ws").alias("tok")
    )

    def _mg(batches):
        import pandas as pd

        state: dict = {}
        total = 0
        for pdf in batches:
            total += len(pdf)
            for t, c in pdf["tok"].value_counts().items():
                state[t] = state.get(t, 0) + int(c)
            if len(state) > k:
                dec = sorted(state.values(), reverse=True)[k]
                state = {t: c - dec for t, c in state.items() if c > dec}
        yield pd.DataFrame(
            {
                "tok": list(state.keys()) + [None],
                "part_total": [0] * len(state) + [total],
            }
        )

    ph1 = toks.mapInPandas(_mg, "tok string, part_total long").localCheckpoint()
    # one scalar: the corpus token count (partition-count-sized agg of
    # the already-materialized, <= (k+1)-rows-per-partition summary)
    n_total = ph1.agg(F.sum("part_total")).collect()[0][0] or 0
    cand = ph1.filter(F.col("tok").isNotNull()).select("tok").distinct()
    return (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") * k > F.lit(int(n_total)))
    )


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """Positional inverted index (X96): token -> sorted posting list of
    ``(doc_id, pos)`` structs — the IR primitive behind exact-phrase
    contamination scans, concordance/KWIC views, and span-level dedup
    over a tokenized corpus.

    One ``posexplode`` of the staged word array (same tokenizer as
    every counting path: :func:`words_col`), then ONE groupBy(token)
    producing the packed posting array (``sort_array`` canonicalizes
    (doc_id, pos) order — collect_list arrival order is partition-
    dependent and must never leak into stored output), doc frequency,
    and total postings. ``min_df`` prunes the hapax tail at write time.

    Scale: the explode is corpus-token-sized but task-local; the only
    exchange is the groupBy(token). Token frequency is Zipfian — the
    head (stopword) tokens each carry corpus-sized posting lists, so a
    single reducer would see the whole 'the' list. At 10^12 tokens,
    shard head tokens by doc_id range into (token, shard) posting rows
    (the standard segmented-index layout) or cap with a stopword list;
    the checksum witness (see the entry query) aggregates BEFORE the
    packed array materializes, so the driver gate never ships arrays.
    """
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    toks = docs.select(
        "doc_id", F.posexplode(words_col(text_col)).alias("pos", "token")
    )
    out = toks.groupBy("token").agg(
        F.sort_array(
            F.collect_list(F.struct("doc_id", "pos"))
        ).alias("postings"),
        F.count_distinct("doc_id").cast("long").alias("doc_freq"),
        F.count(F.lit(1)).cast("long").alias("n_postings"),
    )
    if min_df > 1:
        out = out.where(F.col("doc_freq") >= min_df)
    return out


def postings_checksum(
    docs: DataFrame, text_col: str = "text", min_df: int = 1
) -> DataFrame:
    """All-BIGINT witness for :func:`inverted_index`: per token, doc
    frequency, posting count, and the position-weighted checksum
    ``sum(doc_id * (pos + 1) + pos)`` — pins every posting's (doc, pos)
    pair without shipping the packed arrays through the gate. Aggregates
    straight off the exploded frame (no array materialization)."""
    toks = docs.select(
        "doc_id", F.posexplode(words_col(text_col)).alias("pos", "token")
    )
    out = toks.groupBy("token").agg(
        F.count_distinct("doc_id").cast("long").alias("doc_freq"),
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        F.sum(
            F.col("doc_id") * (F.col("pos") + 1) + F.col("pos")
        )
        .cast("long")
        .alias("checksum"),
    )
    if min_df > 1:
        out = out.where(F.col("doc_freq") >= min_df)
    return out


def phrase_occurrences(
    docs: DataFrame,
    phrase: Sequence[str],
    text_col: str = "text",
) -> DataFrame:
    """X117 exact-phrase search (the positional-index consumer: "which
    docs contain this exact k-token phrase, how many times" — the
    contamination / quote-detection primitive X21's shingle probes
    approximate): counts OVERLAPPING occurrences, so "data data data"
    contains "data data" twice.

    The anchor trick keeps it to ONE aggregation and zero self-joins:
    every token occurrence matching phrase position i emits ``anchor =
    pos - i``; an anchor where ALL k phrase positions check in is a
    full occurrence (``count(DISTINCT i) = k`` — distinct because one
    token can satisfy several phrase positions when the phrase has
    repeats). The exchange carries only matching-token rows keyed by
    (doc, anchor) — a phrase is a query, so the match filter prunes
    the corpus to the phrase tokens' postings before any shuffle.

    Output: ``(doc_id, n_occurrences)`` BIGINT, matching docs only.
    """
    ph = list(phrase)
    if not ph:
        raise ValueError("phrase must be non-empty")
    toks = docs.select(
        "doc_id",
        F.posexplode(words_col(text_col)).alias("pos", "tok"),
    ).where(F.col("tok").isin(ph))
    # one row per (occurrence, phrase-slot it could fill)
    slots = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(t).alias("t"))
            for i, t in enumerate(ph)
        ]
    )
    cand = (
        toks.select("doc_id", "pos", "tok", F.explode(slots).alias("s"))
        .where(F.col("s.t") == F.col("tok"))
        .select(
            "doc_id",
            (F.col("pos") - F.col("s.i")).alias("anchor"),
            F.col("s.i").alias("i"),
        )
        .where(F.col("anchor") >= 0)
    )
    hits = (
        cand.groupBy("doc_id", "anchor")
        .agg(F.count_distinct("i").alias("k"))
        .where(F.col("k") == len(ph))
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )


def goodturing_pieces(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """X135 Good-Turing / Chao1 vocabulary-coverage pieces: how much
    of this corpus slice's vocabulary have we NOT seen yet? The
    frequency-of-frequencies statistics (Good 1953; Chao 1984) answer
    the two planning questions a crawl/training pipeline keeps asking
    — "is more data from source S still adding new types" and "how
    big is S's true vocabulary" — from exact integer pieces:

    ``n_tokens`` (N), ``n_types`` (V), ``n1`` (hapax legomena — types
    seen exactly once), ``n2`` (dis legomena — exactly twice), all
    BIGINT. Caller-side in :func:`goodturing_scores`:
    ``unseen_mass = n1/N`` (Good-Turing probability the NEXT token is
    a new type), ``coverage = 1 - n1/N``, and the bias-corrected Chao1
    richness ``V + n1*(n1-1)/(2*(n2+1))`` (defined even when n2=0).

    Plan: the single-parse (group, tok, cnt) term-frequency relation,
    then one map-side-combinable groupBy folding four conditional
    counts — both shuffles move 8-byte counts, never text.
    """
    tf = (
        docs.select(group_col, words_col(text_col).alias("__ws"))
        .select(group_col, F.explode("__ws").alias("tok"))
        .groupBy(group_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = F.col("cnt")
    return tf.groupBy(group_col).agg(
        F.sum(c).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(c == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(c == 2, 1).otherwise(0)).cast("long").alias("n2"),
    )


def goodturing_scores(pieces: DataFrame) -> DataFrame:
    """Float coverage / richness estimates from
    :func:`goodturing_pieces` — plain projection: ``unseen_mass``,
    ``coverage``, ``chao1``. Null on empty groups."""
    n = F.col("n_tokens").cast("double")
    v = F.col("n_types").cast("double")
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    unseen = F.when(n > 0, n1 / n)
    return pieces.select(
        "*",
        unseen.alias("unseen_mass"),
        F.when(n > 0, 1.0 - n1 / n).alias("coverage"),
        F.when(n > 0, v + n1 * (n1 - 1) / (2.0 * (n2 + 1))).alias("chao1"),
    )


def zipf_fit(
    freq: DataFrame,
    keys: Sequence[str] = (),
    rank_col: str = "rank",
    cnt_col: str = "occurrences",
) -> DataFrame:
    """X145 Zipf's-law fit: OLS slope of ``log(count)`` on
    ``log(rank)`` over a rank-frequency table — natural language sits
    near slope -1 (Zipf 1949); template-stamped or synthetic corpora
    drift flat (slope near 0, every "word" equally common) and
    boilerplate-dominated crawls drift steep. The scale companion to
    the X135 coverage estimates, fit from the ALREADY-ORACLED
    ``token_freq`` top-k pieces — floats only here, no new witness
    surface.

    Emits per key group: ``n_ranks``, ``zipf_slope``, ``zipf_r2``
    (goodness of the log-log line). Plain aggregate, no collect; null
    below 2 ranks or with degenerate x-variance.
    """
    keys = list(keys)
    x = F.log(F.col(rank_col).cast("double"))
    y = F.log(F.col(cnt_col).cast("double"))
    agg = freq.filter(
        (F.col(rank_col) >= 1) & (F.col(cnt_col) >= 1)
    ).groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
    )
    n = F.col("__n")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = n * F.col("__sxx") - F.col("__sx") ** 2
    vy = n * F.col("__syy") - F.col("__sy") ** 2
    ok = (n >= 2) & (vx > 0)
    return agg.select(
        *keys,
        n.cast("long").alias("n_ranks"),
        F.when(ok, cov / vx).alias("zipf_slope"),
        F.when(ok & (vy > 0), cov * cov / (vx * vy)).alias("zipf_r2"),
    )


def rle_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """X161 per-doc token run-length profile: how much of a document is
    immediate word-level repetition — the run-length-encoding
    compressibility read ("the the the", stuttered boilerplate, padded
    token streams). Complements :func:`repetition_score` (repeated
    bigrams ANYWHERE in the doc) with the ADJACENT-repeat signal: a
    doc whose ``n_runs`` is far below ``n_tokens`` is literally
    RLE-compressible, the classic symptom of generation loops and
    template stamping.

    Emits per doc, all exact BIGINT: ``n_tokens``, ``n_runs``
    (maximal blocks of equal adjacent tokens), ``max_run`` (longest
    block), ``rle_excess = n_tokens - n_runs`` (tokens a run-length
    coder would delete — 0 on repeat-free text).

    Scale shape: ONE ``aggregate`` fold over the words array per row —
    pure Column expressions, JVM codegen, zero shuffle, zero Python;
    the plan is a scan + project at any corpus size. (The DuckDB
    oracle reproduces it via unnest + lag gaps-and-islands; same
    integers.)
    """
    staged = docs.select("doc_id", words_col(text_col).alias("__ws"))
    # one fold computes (runs, current-run length, max-run) together:
    # acc = (prev token, n_runs so far, current run len, max run len)
    fold = F.expr(
        """
        aggregate(
          __ws,
          struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS runs,
                 CAST(0 AS BIGINT) AS cur, CAST(0 AS BIGINT) AS mx),
          (a, x) -> struct(
            x,
            a.runs + CASE WHEN a.prev IS NOT NULL AND x = a.prev
                          THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END,
            CASE WHEN a.prev IS NOT NULL AND x = a.prev
                 THEN a.cur + 1 ELSE CAST(1 AS BIGINT) END,
            greatest(a.mx,
                     CASE WHEN a.prev IS NOT NULL AND x = a.prev
                          THEN a.cur + 1 ELSE CAST(1 AS BIGINT) END)),
          a -> struct(a.runs, a.mx))
        """
    )
    return staged.select(
        "doc_id",
        F.size("__ws").cast("long").alias("n_tokens"),
        fold.getField("runs").alias("n_runs"),
        fold.getField("mx").alias("max_run"),
        (F.size("__ws").cast("long") - fold.getField("runs")).alias(
            "rle_excess"
        ),
    )


def vocab_drift(
    docs: DataFrame,
    text_col: str = "text",
    order_col: str = "doc_id",
    bucket_size: int = 50,
) -> DataFrame:
    """X162 vocabulary drift between CONSECUTIVE ingest buckets: the
    Jaccard overlap of the distinct-token sets of bucket ``b`` and
    ``b+1`` — is the crawl's vocabulary stable over ingest time, or
    did the corpus composition jump (new domain dumped in, a scraper
    format change, a language shift)? :func:`novelty_curve` reads
    FIRST sightings against all history; this is the local
    bucket-to-bucket read that localizes WHEN the shift happened —
    drift localization for the data-mixing dashboard.

    Emits one row per adjacent pair, all exact BIGINT pieces:
    ``(bucket, next_bucket, n_prev, n_next, overlap)`` with
    ``jaccard = overlap / (n_prev + n_next - overlap)`` left to the
    caller (the witness stays integer).

    Scale shape — the distinct ``(bucket, token)`` frame is consumed
    EXACTLY ONCE (a naive sizes + self-join formulation scans the
    corpus 3x; Catalyst does not reuse the branches): one distinct
    shuffle, one ``lead(bucket)`` window per token (a token's bucket
    list is at most the bucket count — never a hot partition), then
    ONE ``groupBy(bucket)`` emitting set size and next-bucket overlap
    together, and a bucket-count-sized self-join at the end. Every
    post-distinct frame is vocabulary- or bucket-sized, never
    corpus-sized.
    """
    from pyspark.sql import Window

    toks = (
        docs.select(
            # integer `div`, not float division: exact at any doc_id
            F.expr(f"CAST({order_col} AS BIGINT) div {int(bucket_size)}")
            .cast("long")
            .alias("bucket"),
            F.explode(words_col(text_col)).alias("token"),
        )
        .distinct()
    )
    w = Window.partitionBy("token").orderBy("bucket")
    flagged = toks.withColumn(
        "__hit",
        F.when(
            F.lead("bucket").over(w) == F.col("bucket") + 1, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    # lazy localCheckpoint: the bucket-count-sized frame feeds BOTH
    # sides of the adjacent self-join — without it each side re-runs
    # the whole scan+distinct+window chain (measured 4 parquet scans
    # vs 2). Lazy, so no extra job: the first action materializes it
    # and the second consumer reads the pinned partitions.
    per_bucket = flagged.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_set"),
        F.sum("__hit").cast("long").alias("overlap"),
    ).localCheckpoint(eager=False)
    return (
        per_bucket.alias("a")
        .join(
            per_bucket.select(
                (F.col("bucket") - 1).alias("bucket"),
                F.col("n_set").alias("n_next"),
            ).alias("b"),
            "bucket",
        )
        .select(
            F.col("bucket"),
            (F.col("bucket") + 1).alias("next_bucket"),
            F.col("n_set").alias("n_prev"),
            F.col("n_next"),
            F.col("overlap"),
        )
    )


def trending_tokens(
    docs: DataFrame,
    text_col: str = "text",
    order_col: str = "doc_id",
    bucket_size: int = 50,
    top_k: int = 20,
) -> DataFrame:
    """X165 per-bucket trending tokens: the rank TRAJECTORY of each
    token across consecutive ingest buckets — the "what's rising"
    dashboard read on a token stream. :func:`vocab_drift` measures how
    much the vocabulary SET moved; this names WHICH tokens moved:
    for every bucket's top-``top_k`` tokens (total order ``count DESC,
    token ASC`` — deterministic at any parallelism), attach the
    token's count and rank in the PREVIOUS bucket (sentinels 0 / -1
    when absent — a new entrant).

    Emits ``(bucket, token, cnt, rnk, prev_cnt, prev_rank)`` — all
    exact BIGINT.

    Scale shape: token counts per bucket (one map-side-combined
    shuffle); ranks via a window partitioned BY BUCKET over the count
    frame — bounded by distinct tokens per bucket, never by row
    count; top-k filter cuts the left side to ``k`` rows per bucket
    before the single adjacent-bucket equi-join on ``(bucket,
    token)`` (the right side stays the full per-bucket count frame so
    a token falling OUT of the top-k still reports its true previous
    rank).
    """
    from pyspark.sql import Window

    counts = (
        docs.select(
            F.expr(f"CAST({order_col} AS BIGINT) div {int(bucket_size)}")
            .cast("long")
            .alias("bucket"),
            F.explode(words_col(text_col)).alias("token"),
        )
        .groupBy("bucket", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("bucket").orderBy(
        F.col("cnt").desc(), F.col("token").asc()
    )
    # lazy localCheckpoint: three consumers below (top-k filter,
    # previous-bucket side, predecessor-existence set) would otherwise
    # each re-run the corpus scan + count shuffle + rank window
    # (measured 3 parquet scans); after the pin the corpus is read once
    ranked = counts.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    ).localCheckpoint(eager=False)
    top = ranked.filter(F.col("rnk") <= int(top_k))
    prev = ranked.select(
        (F.col("bucket") + 1).alias("bucket"),
        "token",
        F.col("cnt").alias("prev_cnt"),
        F.col("rnk").alias("prev_rank"),
    )
    # only buckets whose PREDECESSOR exists (first bucket has no
    # "previous" — and bucket numbering need not start at 0)
    has_prev = ranked.select(
        (F.col("bucket") + 1).alias("bucket")
    ).distinct()
    return (
        top.join(prev, ["bucket", "token"], "left")
        .join(has_prev, "bucket", "left_semi")
        .select(
            "bucket",
            "token",
            "cnt",
            "rnk",
            F.coalesce(F.col("prev_cnt"), F.lit(0)).cast("long")
            .alias("prev_cnt"),
            F.coalesce(F.col("prev_rank"), F.lit(-1)).cast("long")
            .alias("prev_rank"),
        )
    )


def burst_detect(
    docs: DataFrame,
    text_col: str = "text",
    order_col: str = "doc_id",
    bucket_size: int = 50,
    s: float = 2.0,
    gamma: float = 1.0,
    min_count: int = 5,
) -> DataFrame:
    """X167 Kleinberg burst detection (Kleinberg 2002, "Bursty and
    Hierarchical Structure in Streams", the batched/enumerating
    variant) — THE named algorithm for "when did this token burst":
    a 2-state automaton per token over ingest buckets, base state
    emitting at the token's corpus rate ``p0``, burst state at
    ``p1 = s·p0``, binomial emission costs, an entry toll
    ``gamma·ln(B)`` (B = bucket count), Viterbi-decoded; maximal
    burst-state runs come out as ``(token, start_bucket, end_bucket,
    n_bursty, weight)`` with ``weight`` = total emission-cost saving
    (Kleinberg's burst weight — the ranking key).

    The trend family reads counts and ranks (:func:`trending_tokens`);
    this is the MODEL-based read that separates "rose because the
    corpus grew" from "rose faster than the base rate explains" — the
    standard event-detection primitive on token streams.

    Scale shape: per-``(bucket, token)`` counts (one map-side-combined
    shuffle); per-bucket totals broadcast back; the per-token
    timeline (gap-filled with zero-count buckets — the automaton
    needs silence too) is vocabulary × B rows, run through the per-key
    ordered map on token (one shuffle, a Viterbi kernel per token over
    its bucket-ordered series of length B, tiny).
    ``min_count`` prunes the long tail before the timeline build.

    Decode is deterministic: float costs are evaluated in fixed
    bucket order and ties prefer the base state, so output is
    identical at any parallelism (pinned vs a pure-Python reference).
    """
    toks = docs.select(
        F.expr(f"CAST({order_col} AS BIGINT) div {int(bucket_size)}")
        .cast("long")
        .alias("bucket"),
        F.explode(words_col(text_col)).alias("token"),
    )
    # lazy localCheckpoint: bucket totals, token totals, and the grid
    # join all derive from this one count frame — without the pin each
    # consumer re-reads the corpus (measured 3 parquet scans)
    counts = toks.groupBy("bucket", "token").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    ).localCheckpoint(eager=False)
    bucket_tot = counts.groupBy("bucket").agg(
        F.sum("k").cast("long").alias("n")
    )
    tok_tot = counts.groupBy("token").agg(
        F.sum("k").cast("long").alias("k_tot")
    ).filter(F.col("k_tot") >= int(min_count))
    # gap-filled timeline: every surviving token x every bucket
    grid = tok_tot.crossJoin(F.broadcast(bucket_tot)).join(
        counts, ["token", "bucket"], "left"
    ).select(
        "token",
        "bucket",
        F.coalesce(F.col("k"), F.lit(0)).cast("long").alias("k"),
        "n",
        "k_tot",
    )

    s_, g_ = float(s), float(gamma)

    def _viterbi(ks, ns, k_tot, n_tot, n_buckets):
        import math

        # clamp p0 away from 1 alongside p1 (ADVICE r4): a degenerate
        # single-token corpus gives p0 == 1.0, and cost() would then
        # compute (n-k)*log1p(-1) = 0 * -inf = NaN, silently corrupting
        # every Viterbi cost instead of degrading gracefully
        p0 = min(k_tot / n_tot, 1.0 - 1e-9)
        p1 = min(s_ * p0, 1.0 - 1e-9)
        toll = g_ * math.log(n_buckets) if n_buckets > 1 else 0.0
        INF = float("inf")

        def cost(k, n, p):
            return -(
                math.lgamma(n + 1)
                - math.lgamma(k + 1)
                - math.lgamma(n - k + 1)
                + k * math.log(p)
                + (n - k) * math.log1p(-p)
            )

        d0, d1 = 0.0, INF
        back = []
        c1s = []
        c0s = []
        for k, n in zip(ks, ns):
            c0 = cost(k, n, p0)
            c1 = cost(k, n, p1)
            c0s.append(c0)
            c1s.append(c1)
            # ties prefer base state / staying put — deterministic
            f0 = d0 if d0 <= d1 else d1
            b0 = 0 if d0 <= d1 else 1
            e1 = d0 + toll
            f1 = d1 if d1 <= e1 else e1
            b1 = 1 if d1 <= e1 else 0
            back.append((b0, b1))
            d0, d1 = f0 + c0, f1 + c1
        state = 0 if d0 <= d1 else 1
        states = []
        for t in range(len(ks) - 1, -1, -1):
            states.append(state)
            state = back[t][state]
        states.reverse()
        bursts = []
        start = None
        for t, st in enumerate(states):
            if st == 1 and start is None:
                start = t
            if st == 0 and start is not None:
                bursts.append((start, t - 1))
                start = None
        if start is not None:
            bursts.append((start, len(states) - 1))
        return [
            (
                a,
                b,
                b - a + 1,
                sum(c0s[t] - c1s[t] for t in range(a, b + 1)),
            )
            for a, b in bursts
        ]

    n_total_row = bucket_tot.agg(
        F.sum("n").alias("nt"), F.count(F.lit(1)).alias("nb")
    ).collect()[0]
    n_tot, n_buckets = int(n_total_row["nt"]), int(n_total_row["nb"])

    def _burst(kv, rows):
        import pandas as pd

        buckets = rows["bucket"].tolist()
        res = _viterbi(
            rows["k"].tolist(),
            rows["n"].tolist(),
            int(rows["k_tot"].iloc[0]),
            n_tot,
            n_buckets,
        )
        return pd.DataFrame(
            [(kv[0], buckets[a], buckets[b], nb, wt) for a, b, nb, wt in res],
            columns=["token", "start_bucket", "end_bucket", "n_bursty", "weight"],
        )

    return per_key_ordered_map(
        grid, ["token"], ["bucket"], _burst,
        "token string, start_bucket bigint, end_bucket bigint, "
        "n_bursty bigint, weight double",
    )


def texttiling_pieces(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 10,
) -> DataFrame:
    """X180 TextTiling topic-segmentation pieces (Hearst 1997) — the
    classic lexical-cohesion segmenter: slice a document into
    ``block_tokens``-token blocks, score every internal gap by the
    lexical similarity of its adjacent blocks, and measure each gap's
    DEPTH (how far similarity drops relative to the nearest peaks on
    both sides). Deep valleys are topic boundaries — the semantic
    upgrade to fixed-size context-window chunking
    (:func:`chunk_documents`): split WHERE THE TOPIC SHIFTS, not at
    an arbitrary token count.

    Exact-integer variant: block similarity is the bag-overlap
    ``sim = Σ_t min(count_left(t), count_right(t))`` (not Hearst's
    float cosine), and the depth is ``(lpeak − sim) + (rpeak − sim)``
    with peaks found by the classic monotone climb — every emitted
    number is a BIGINT, bit-stable anywhere. Emits one row per
    internal gap: ``(id, gap_idx, token_pos, sim, depth)``;
    thresholding (Hearst's mean−σ/2 cutoff, a top-k, or a fixed
    depth) is the caller's policy, outside the witness.

    Scale shape: a pure PER-ROW kernel — tokens never leave their
    document, so the plan is scan → mapInPandas with ZERO shuffles at
    any corpus size (the :func:`~c3s_sm_spark.operators.multimodal`
    batch shape). Rows-only (a climb recursion per gap has no
    ANSI-SQL twin); pinned against a pure-Python reference in
    tests/test_textops.py.
    """
    if block_tokens < 1:
        raise ValueError(f"block_tokens must be >= 1, got {block_tokens}")
    w = int(block_tokens)
    src = docs.select(
        F.col(id_col).alias("__id"), words_col(text_col).alias("__ws")
    )
    id_type = src.schema["__id"].dataType.simpleString()

    def _tile_one(ws):
        from collections import Counter

        blocks = [
            Counter(ws[i:i + w]) for i in range(0, len(ws), w)
        ]
        nb = len(blocks)
        if nb < 2:
            return []
        sims = [
            sum(
                min(c, blocks[g + 1][t])
                for t, c in blocks[g].items()
            )
            for g in range(nb - 1)
        ]
        out = []
        for g in range(len(sims)):
            lp = sims[g]
            i = g
            while i > 0 and sims[i - 1] >= lp:
                lp = sims[i - 1]
                i -= 1
            rp = sims[g]
            i = g
            while i < len(sims) - 1 and sims[i + 1] >= rp:
                rp = sims[i + 1]
                i += 1
            out.append(
                (g, (g + 1) * w, sims[g], (lp - sims[g]) + (rp - sims[g]))
            )
        return out

    def _tile_partition(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            res = []
            for did, ws in zip(pdf["__id"], pdf["__ws"]):
                for g, pos, sim, depth in _tile_one(list(ws)):
                    res.append((did, g, pos, sim, depth))
            if res:
                yield pd.DataFrame(
                    res,
                    columns=[
                        id_col, "gap_idx", "token_pos", "sim", "depth"
                    ],
                )

    return src.mapInPandas(
        _tile_partition,
        schema=(
            f"{id_col} {id_type}, gap_idx bigint, token_pos bigint, "
            "sim bigint, depth bigint"
        ),
    )
