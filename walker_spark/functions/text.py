"""Text analytics for large-scale training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All hot paths are native ``pyspark.sql.functions`` expressions (JVM-side,
whole-stage codegen); language ID is the one pandas UDF (per-language
n-gram profiles need dict lookups). Everything is deterministic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

__all__ = [
    "token_count_expr",
    "quality_metrics",
    "fingerprint_expr",
    "language_id_udf",
    "train_filter",
    "corpus_quality_rollup",
    "stratified_sample",
    "top_ngrams",
    "tfidf_keywords",
    "repetition_metrics",
    "decontaminate",
    "pii_scrub",
    "remove_boilerplate",
    "line_quality_filter",
    "charlm_metrics",
    "bigram_lm_metrics",
    "normalize_unicode",
    "winnow_fingerprints",
    "vocab_stats",
    "script_metrics",
    "percentile_cut",
    "SCRIPT_PATTERNS",
    "cross_doc_span_stats",
    "pack_sequences",
    "pack_examples",
    "mixture_weights",
    "mixture_resample",
    "quality_logit",
    "build_vocab",
    "encode_tokens",
    "STOPWORDS",
    "PII_PATTERNS",
    "QUALITY_LOGIT_WEIGHTS",
]

# Tiny per-language stopword profiles (public common-word lists).
STOPWORDS = {
    "en": {"the", "a", "of", "and", "to", "in", "is", "that", "it", "for", "on", "with", "as", "this"},
    "de": {"der", "die", "das", "und", "ist", "zu", "den", "mit", "von", "ein", "eine", "nicht", "auf"},
    "fr": {"le", "la", "les", "de", "des", "et", "est", "un", "une", "que", "pour", "dans", "qui"},
    "es": {"el", "la", "los", "las", "de", "y", "es", "un", "una", "que", "por", "con", "para"},
    "it": {"il", "la", "di", "e", "che", "un", "una", "per", "con", "del", "non", "sono"},
    "zh": set(),  # CJK: detected by script, not stopwords
}

# A BPE-ish token regex: word pieces, numbers, or single non-space symbols.
TOKEN_REGEX = r"[A-Za-z]+(?:'[a-z]+)?|[0-9]+|[^\sA-Za-z0-9]"


def token_count_expr(text: Column, mode: str = "whitespace") -> Column:
    """Token count. ``whitespace``: split on runs of whitespace (the
    cheap estimator); ``bpe``: count TOKEN_REGEX matches (closer to a
    subword tokenizer's pre-tokenization)."""
    if mode == "whitespace":
        toks = F.split(F.trim(text), r"\s+")
        return F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size(toks))
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))


def quality_metrics(df: DataFrame, text_col: str = "text", lang_col: str | None = None) -> DataFrame:
    """Adds document-quality columns (all native exprs):

    * n_chars_m, n_tokens, avg_token_len
    * punct_ratio   — punctuation chars / chars
    * digit_ratio   — digit chars / chars
    * upper_ratio   — uppercase chars / letters
    * stopword_ratio — stopword tokens / tokens (against the doc's lang
      profile when ``lang_col`` given, else English)
    * quality_score — a simple composite in [0,1]
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count_expr(t)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_digit = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_upper = F.length(t) - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    safe = lambda num, den: F.when(den > 0, F.round(num / den, 4)).otherwise(F.lit(0.0))  # noqa: E731

    tokens = F.split(F.lower(F.trim(t)), r"\s+")
    if lang_col is not None:
        stop_arr = None
        for lang, words in STOPWORDS.items():
            arr = F.array(*[F.lit(w) for w in sorted(words)]) if words else F.array().cast("array<string>")
            cond = F.col(lang_col) == lang
            stop_arr = F.when(cond, arr) if stop_arr is None else stop_arr.when(cond, arr)
        stop_arr = stop_arr.otherwise(F.array(*[F.lit(w) for w in sorted(STOPWORDS["en"])]))
    else:
        stop_arr = F.array(*[F.lit(w) for w in sorted(STOPWORDS["en"])])
    n_stop = F.size(F.filter(tokens, lambda tok: F.array_contains(stop_arr, tok)))

    out = (
        df.withColumn("n_chars_m", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("avg_token_len", safe(n_chars - (n_tokens - 1), n_tokens))
        .withColumn("punct_ratio", safe(n_punct, n_chars))
        .withColumn("digit_ratio", safe(n_digit, n_chars))
        .withColumn("upper_ratio", safe(n_upper, n_alpha))
        .withColumn("stopword_ratio", safe(n_stop, n_tokens))
    )
    score = (
        F.lit(1.0)
        - F.least(F.col("punct_ratio") * 2, F.lit(0.5))
        - F.least(F.col("digit_ratio"), F.lit(0.3))
    ) * F.when(
        (F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 100_000), F.lit(1.0)
    ).otherwise(F.lit(0.3))
    return out.withColumn("quality_score", F.round(score, 4))


def fingerprint_expr(text: Column, window: int = 8) -> Column:
    """Document fingerprint: a 16-hex-char digest over the sorted set of
    per-window token-shingle hashes (a rolling-hash flavor computed
    natively: tokens → sliding windows via transform over index range →
    per-window md5 prefix → sort → digest of the joined sequence).
    Stable, order-insensitive at the window level, JVM-side.

    Hash family is ``substr(md5(x), 1, 16)`` — shared with DuckDB so the
    text_fingerprint oracle can recompute the value in SQL (Spark's
    xxhash64-over-strings, used before r3, has no DuckDB equivalent)."""
    toks = F.filter(F.split(F.lower(text), r"\W+"), lambda s: s != F.lit(""))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - window, F.lit(0)))
    shingles = F.transform(
        idx,
        lambda i: F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i + 1, window))), 1, 16),
    )
    return F.substring(F.md5(F.concat_ws(",", F.array_sort(shingles))), 1, 16)


_PROFILES = {
    # top character trigrams per language (hand-built from public common
    # word lists — deterministic heuristic, not a trained model)
    "en": ["the", " th", "he ", "ing", "and", " an", "nd ", " of", "of ", "ion", "tio", " to", "er "],
    "de": ["der", "ie ", "ein", "ch ", "die", "sch", "en ", "und", " un", "cht", " de", "ung", "gen"],
    "fr": ["es ", "de ", " de", "le ", "ent", " le", "la ", " la", "ion", "que", " qu", "re ", "ant"],
    "es": ["de ", " de", "la ", " la", "os ", "el ", " el", "ión", "es ", "que", " qu", "ent", "ado"],
    "it": ["di ", " di", "la ", "to ", "re ", "che", " ch", "ion", "one", "ell", " co", "del", "are"],
}


def language_id_udf():
    """Heuristic language ID: CJK by Unicode block, else best-matching
    trigram profile, else 'unk'. Arrow-batched pandas UDF."""

    @pandas_udf("string")
    def lang_id(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            t = (t or "").lower()
            if not t:
                out.append("unk")
                continue
            cjk = sum(1 for ch in t[:400] if "一" <= ch <= "鿿")
            if cjk > len(t[:400]) * 0.2:
                out.append("zh")
                continue
            sample = t[:1000]
            best, best_score = "unk", 0
            for lang, grams in _PROFILES.items():
                score = sum(sample.count(g) for g in grams)
                if score > best_score:
                    best, best_score = lang, score
            out.append(best if best_score >= 2 else "unk")
        return pd.Series(out)

    return lang_id


def train_filter(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = "lang",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    max_punct_ratio: float = 0.2,
    max_digit_ratio: float = 0.3,
    allowed_langs: tuple[str, ...] | None = None,
) -> DataFrame:
    """C4-style training-corpus prefilter: length, punctuation, digit,
    and (optionally) language gates, each surfaced as its own boolean so
    a curation report can attribute drops to causes.

    Adds (on top of :func:`quality_metrics` columns, all native exprs —
    one pass over the corpus, no shuffle, filter fully pushable):

    * ``drop_len``   — token count outside ``[min_tokens, max_tokens]``
    * ``drop_punct`` — ``punct_ratio > max_punct_ratio``
    * ``drop_digit`` — ``digit_ratio > max_digit_ratio``
    * ``drop_lang``  — ``lang_col`` not in ``allowed_langs`` (False when
      no language gate is configured)
    * ``kept``       — passes every gate

    The frame is returned unfiltered (every doc, annotated) so callers
    can either ``.filter("kept")`` for the surviving corpus or aggregate
    the drop columns for the curation report.
    """
    out = quality_metrics(df, text_col, lang_col)
    drop_len = (F.col("n_tokens") < min_tokens) | (F.col("n_tokens") > max_tokens)
    drop_punct = F.col("punct_ratio") > max_punct_ratio
    drop_digit = F.col("digit_ratio") > max_digit_ratio
    if allowed_langs is not None and lang_col is not None:
        drop_lang = ~F.col(lang_col).isin(*allowed_langs)
    else:
        drop_lang = F.lit(False)
    return (
        out.withColumn("drop_len", drop_len)
        .withColumn("drop_punct", drop_punct)
        .withColumn("drop_digit", drop_digit)
        .withColumn("drop_lang", drop_lang)
        .withColumn(
            "kept", ~(drop_len | drop_punct | drop_digit | drop_lang)
        )
    )


def corpus_quality_rollup(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Per-source (per-domain) corpus curation rollup: doc/token volume
    and average quality per origin — the view a 100 TB webtext pipeline
    uses to rank domains before sampling. One map-side-combined groupBy
    over natively computed metrics; output cardinality = #sources.
    """
    q = quality_metrics(df, text_col, lang_col)
    return (
        q.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        )
        .orderBy(group_col)
    )


def stratified_sample(
    df: DataFrame,
    strata_cols: tuple[str, ...] = ("source",),
    k: int = 10,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic stratified downsample: keep the top-``k`` docs per
    stratum ranked by ``md5(seed:id)`` — the reproducible hash-ranked
    sampling a 100 TB corpus pipeline uses to draw per-domain quotas
    (same rows on every run and every cluster size, unlike
    ``df.sample``'s partition-dependent RNG).

    Scale shape: one hash-partition shuffle on the strata; because the
    rank filter is ``row_number() <= k``, Catalyst's
    ``InsertWindowGroupLimit`` rewrites it into a map-side partial
    top-k for k up to ``spark.sql.window.groupLimitThreshold`` (1000),
    so a hot stratum never materializes its full row set (same
    mechanism the politeness batch op relies on, operators/
    politeness.py). Output carries ``sample_rank`` (1-based within the
    stratum).
    """
    from pyspark.sql import Window

    rank_key = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(*[F.col(c) for c in strata_cols]).orderBy(
        rank_key, F.col(id_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def top_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide top-``k`` word ``n``-grams with occurrence counts —
    the heavy-hitter / vocabulary-building pass of a text pipeline.
    Every sliding window counts (NOT per-doc distinct — this measures
    frequency, unlike the dedup shingles). Docs shorter than ``n``
    tokens contribute nothing.

    Scale shape: tokenize + window natively (no Python), explode, one
    map-side-combined groupBy on the ngram, then a global top-k — the
    only driver-bound data is the ``k``-row result. Ties break
    lexicographically so the cut is deterministic.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\W+"), lambda s: s != F.lit("")
    )
    cnt = F.size(toks)
    idx = F.when(cnt >= n, F.sequence(F.lit(0), cnt - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


def tfidf_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Per-document top-``k`` keywords by smoothed TF-IDF — the keyword /
    topic-signal extraction pass of a text pipeline (and the standard
    lexical retrieval weighting).

    ``idf = ln((N + 1) / (df + 1)) + 1`` (sklearn's smoothed variant, a
    public formula), ``score = tf * idf``. The idf is rounded to 12
    decimals and the score to 6 so the result is bit-stable across
    engines (``ln`` differs by ≤1 ulp between libms); ranking uses the
    rounded score with lexicographic token tie-break, making the top-k
    cut fully deterministic.

    Scale shape: after the native tokenize, only (id, token) pairs move —
    one groupBy for per-doc term frequencies, one token-keyed groupBy for
    document frequencies (vocabulary-sized, AQE broadcasts the join back
    when small), the corpus size N as a broadcast single-row cross join
    (never a driver collect), and one id-partitioned window for the
    top-k. The text column itself crosses zero exchanges.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\W+"), lambda s: s != F.lit("")
    )
    pairs = df.select(F.col(id_col), F.explode(toks).alias("token"))
    tf = pairs.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    idf = F.round(
        F.log((F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
        + F.lit(1.0),
        12,
    ).alias("idf")
    scored = (
        tf.join(docfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            "tf",
            F.round(F.col("tf") * idf, 6).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "token", F.col("tf").cast("long").alias("tf"), "score")
    )


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    top_ngram_n: int = 2,
    dup_ngram_n: int = 3,
) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021
    §A1.1 "repetition removal" — the public construction, re-derived):

    * ``n_lines``            — non-empty ``\\n``-separated lines
    * ``dup_line_frac``      — 1 − distinct lines / total lines
    * ``dup_line_char_frac`` — chars in lines occurring ≥2× (all
      occurrences) / total line chars
    * ``top_ngram_char_frac``  — max over word ``top_ngram_n``-grams of
      occurrences × gram length, / total chars (the n-gram covering the
      most characters)
    * ``dup_ngram_char_frac`` — Σ over grams occurring ≥2× of
      occurrences × gram length, / total chars, capped at 1.0 (windows
      overlap, so the raw sum can exceed the text length)

    Tokens are the ``\\W+``-split lowercase words (the same tokenizer as
    :func:`top_ngrams` and the dedup shingles); gram length is the
    joined ``" "``-separated string's length. All ratios round to 4
    decimals.

    Scale shape: ONE Arrow-batched pandas UDF, O(tokens) per document
    via hash-map counting — per-row work with no shuffle, exactly how
    the public curation pipelines compute these signals. A native-HOF
    formulation exists but is O(lines² + grams²) per document, which a
    10k-line crawl page turns into 10^8 comparisons; the linear counter
    wins everywhere past toy documents.
    """
    import re

    schema = (
        "n_lines int, dup_line_frac double, dup_line_char_frac double, "
        "top_ngram_char_frac double, dup_ngram_char_frac double"
    )

    tn, dn = top_ngram_n, dup_ngram_n

    @pandas_udf(schema)
    def rep(texts: pd.Series) -> pd.DataFrame:
        import math
        from collections import Counter

        # half-away-from-zero at 4 decimals (values are all >= 0) — the
        # rounding SQL engines use; Python's bankers-rounding round()
        # would diverge from a SQL replica on exact ties like 1/32
        def r4(x):
            return math.floor(x * 10000 + 0.5) / 10000

        rows = []
        for t in texts:
            t = t or ""
            lines = [ln for ln in t.split("\n") if ln != ""]
            lc = Counter(lines)
            n_lines = len(lines)
            line_chars = sum(len(ln) for ln in lines)
            dup_line_frac = (
                r4(1.0 - len(lc) / n_lines) if n_lines else 0.0
            )
            dup_chars = sum(
                len(ln) * c for ln, c in lc.items() if c >= 2
            )
            dup_line_char_frac = (
                r4(dup_chars / line_chars) if line_chars else 0.0
            )

            toks = [w for w in re.split(r"\W+", t.lower()) if w]
            total = len(t)
            top_frac = 0.0
            if total and len(toks) >= tn:
                gc = Counter(
                    " ".join(toks[i : i + tn])
                    for i in range(len(toks) - tn + 1)
                )
                top_frac = r4(
                    max(c * len(g) for g, c in gc.items()) / total
                )
            dup_frac = 0.0
            if total and len(toks) >= dn:
                gc = Counter(
                    " ".join(toks[i : i + dn])
                    for i in range(len(toks) - dn + 1)
                )
                s = sum(c * len(g) for g, c in gc.items() if c >= 2)
                dup_frac = r4(min(s / total, 1.0))
            rows.append(
                (n_lines, dup_line_frac, dup_line_char_frac, top_frac, dup_frac)
            )
        return pd.DataFrame(
            rows,
            columns=[
                "n_lines",
                "dup_line_frac",
                "dup_line_char_frac",
                "top_ngram_char_frac",
                "dup_ngram_char_frac",
            ],
        )

    m = rep(F.col(text_col))
    return (
        df.withColumn("_rep", m)
        .select("*", "_rep.*")
        .drop("_rep")
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with a held-out benchmark/eval set (the standard
    n-gram-overlap decontamination used by the public LLM corpora; 13
    is the usual ``n`` for real corpora — pick per tokenizer).

    Adds ``n_contaminated_grams`` (distinct shared grams) and
    ``contaminated``. Grams are distinct per doc, md5-prefix hashed
    (the DuckDB-shared family), built natively.

    Scale shape: the benchmark side is tiny by construction (an eval
    set), so its distinct gram hashes are ``broadcast()`` — the 100 TB
    corpus side explodes to (id, gram) pairs, inner-joins the broadcast
    WITHOUT an exchange, and the only shuffle anywhere is the ids-only
    groupBy on the matched pairs (cardinality ≤ contaminated docs ×
    grams). The final annotation join's right side is the per-doc hit
    count table — small again, AQE broadcasts it, so the corpus itself
    never shuffles.
    """
    from pyspark.sql.functions import broadcast

    def gram_hashes(text: Column) -> Column:
        toks = F.filter(F.split(F.lower(text), r"\W+"), lambda s: s != F.lit(""))
        cnt = F.size(toks)
        idx = F.when(cnt >= n, F.sequence(F.lit(0), cnt - n)).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: F.substring(
                    F.md5(F.concat_ws(" ", F.slice(toks, i + 1, n))), 1, 16
                ),
            )
        )

    bench_grams = (
        benchmark.select(F.explode(gram_hashes(F.col(text_col))).alias("gram"))
        .distinct()
    )
    doc_grams = df.select(
        F.col(id_col), F.explode(gram_hashes(F.col(text_col))).alias("gram")
    )
    hits = (
        doc_grams.join(broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    return (
        df.join(hits, id_col, "left")
        .withColumn(
            "n_contaminated_grams",
            F.coalesce(F.col("n_contaminated_grams"), F.lit(0)).cast("long"),
        )
        .withColumn("contaminated", F.col("n_contaminated_grams") > 0)
    )


# (name, pattern, replacement) — applied IN ORDER, each count taken on
# the text as scrubbed by the previous patterns (ipv4 before phone so a
# dotted quad is never half-eaten by the looser phone pattern). The
# regexes stay in the Java∩RE2 common dialect (classes, bounded
# repetition, ASCII \b) so a SQL engine can replicate them verbatim.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>"),
]


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction over a text corpus: emails, IPv4
    addresses, and international-format phone numbers, each counted
    (``n_email`` / ``n_ipv4`` / ``n_phone``) and replaced with a typed
    placeholder in ``<text_col>_scrubbed``.

    Everything is native ``regexp_count`` / ``regexp_replace`` — JVM
    regex inside whole-stage codegen, one projection pass, no shuffle,
    fully pipeline-able with the other curation gates. Counts and
    replacements are sequential per :data:`PII_PATTERNS` (documented
    there), so the operation is deterministic and SQL-replicable.
    """
    cur = F.col(text_col)
    out = df
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(cur, F.lit(pat)))
        cur = F.regexp_replace(cur, pat, repl)
    return out.withColumn(f"{text_col}_scrubbed", cur)


def percentile_cut(
    df: DataFrame,
    score_col: str,
    q: float = 0.25,
    keep_above: bool = True,
) -> DataFrame:
    """Corpus-adaptive threshold gate — the CCNet trick of cutting at a
    PERCENTILE of the corpus's own score distribution instead of a
    fixed constant (fixed thresholds rot as the corpus mix shifts;
    percentile cuts are self-calibrating). Adds ``threshold`` (the
    exact interpolated q-quantile of ``score_col``, 6-dec) and ``keep``
    (score strictly above it when ``keep_above``, else strictly below).

    Scale shape: ONE extra aggregate over the score column (Spark's
    exact ``percentile`` — a map-side-combined digest, not a sort)
    broadcast back as a single-row cross join — no driver collect, no
    second full scan of anything but the score column. Strictness is
    deliberate: ties AT the threshold drop, so ``keep`` selects at most
    ``1-q`` of the corpus whatever the distribution."""
    if not 0.0 < q < 1.0:
        raise ValueError("q must be in (0, 1)")
    thr = df.agg(
        F.round(F.percentile(F.col(score_col), F.lit(float(q))), 6).alias(
            "threshold"
        )
    )
    out = df.crossJoin(F.broadcast(thr))
    cond = (
        F.col(score_col) > F.col("threshold")
        if keep_above
        else F.col(score_col) < F.col("threshold")
    )
    return out.withColumn("keep", cond)


SCRIPT_PATTERNS = {
    # Java regex script properties (Spark side). The DuckDB oracle uses
    # RE2's \p{Latin}-style spellings — an INDEPENDENT formulation of
    # the same Unicode Script property, which is the point.
    "latin": r"\p{IsLatin}",
    "cyrillic": r"\p{IsCyrillic}",
    "han": r"\p{IsHan}",
    "arabic": r"\p{IsArabic}",
    "greek": r"\p{IsGreek}",
}


def script_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode-script composition per document — the multilingual
    triage pass that runs BEFORE language ID in a web-corpus pipeline
    (CJK/Cyrillic/Arabic text defeats stopword-based langid; script
    detection routes each doc to the right model, and mixed-script
    docs are a mojibake/spam signal).

    Per doc: ``n_<script>`` counts for :data:`SCRIPT_PATTERNS`,
    ``dominant_script`` (argmax, lexicographic tie-break, ``none``
    when no scripted letters), and ``dominant_frac`` (dominant /
    total scripted letters, 4-dec half-up).

    Pure ``regexp_count`` projections — whole-stage codegen, zero
    shuffle, pipelineable with every other curation gate.
    """
    out = df
    names = sorted(SCRIPT_PATTERNS)
    for name in names:
        out = out.withColumn(
            f"n_{name}",
            F.regexp_count(F.col(text_col), F.lit(SCRIPT_PATTERNS[name])).cast(
                "long"
            ),
        )
    total = sum((F.col(f"n_{n}") for n in names[1:]), F.col(f"n_{names[0]}"))
    dominant = F.lit("none")
    best = F.lit(0)
    for name in names:  # lexicographic order + strict > == deterministic
        cond = F.col(f"n_{name}") > best
        dominant = F.when(cond, F.lit(name)).otherwise(dominant)
        best = F.when(cond, F.col(f"n_{name}")).otherwise(best)
    return out.withColumn("n_scripted", total.cast("long")).withColumn(
        "dominant_script", dominant
    ).withColumn(
        "dominant_frac",
        F.when(total > 0, F.floor(best / total * 10000 + F.lit(0.5)) / 10000)
        .otherwise(F.lit(0.0)),
    )


def line_quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    require_terminal_punct: bool = True,
) -> DataFrame:
    """Rule-based line-level cleaning — the C4 line filters (Raffel et
    al. 2020 §2.2: drop lines that don't end in terminal punctuation
    or have fewer than 3 words; also the standard ALL-CAPS and
    bullet/navigation heuristics). The per-GROUP frequency pass is
    :func:`remove_boilerplate`; this is its LOCAL-rule sibling — zero
    corpus statistics, so the only exchange is the per-doc reassembly.

    A line drops when any of: fewer than ``min_words`` whitespace
    words; no terminal punctuation (``.!?"'``, when required); ALL
    CAPS (≥4 letters, none lowercase); starts with a bullet glyph
    (-, *, •) or is a bare navigation token. Per doc: ``n_lines``,
    per-cause drop counts (first matching cause attributes the drop,
    in the order short > punct > caps > bullet), and ``clean_text``
    (survivors re-joined in order via the array_sort-of-structs
    pattern). Empty lines are dropped from counting and output.
    """
    lines = (
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "__pos", "__line"
            ),
        )
        .filter(F.trim(F.col("__line")) != "")
    )
    ln = F.trim(F.col("__line"))
    n_words = F.size(F.filter(F.split(ln, r"\s+"), lambda w: w != F.lit("")))
    short = n_words < min_words
    punct = (
        ~ln.rlike(r"[.!?\"']$")
        if require_terminal_punct
        else F.lit(False)
    )
    caps = ln.rlike(r"^[^a-z]*$") & (
        F.length(F.regexp_replace(ln, r"[^A-Z]", "")) >= 4
    )
    bullet = ln.rlike(r"^[-*•]\s")
    cause = (
        F.when(short, F.lit("short"))
        .when(punct, F.lit("punct"))
        .when(caps, F.lit("caps"))
        .when(bullet, F.lit("bullet"))
    )
    tagged = lines.withColumn("__cause", cause)
    per_doc = tagged.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum((F.col("__cause") == "short").cast("int")).cast("long").alias(
            "n_short"
        ),
        F.sum((F.col("__cause") == "punct").cast("int")).cast("long").alias(
            "n_punct"
        ),
        F.sum((F.col("__cause") == "caps").cast("int")).cast("long").alias(
            "n_caps"
        ),
        F.sum((F.col("__cause") == "bullet").cast("int")).cast("long").alias(
            "n_bullet"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__cause").isNull(),
                            F.struct(F.col("__pos"), F.col("__line")),
                        )
                    )
                ),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            *[
                F.coalesce(c, F.lit(0)).cast("long").alias(c)
                for c in ["n_lines", "n_short", "n_punct", "n_caps", "n_bullet"]
            ],
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def charlm_metrics(
    df: DataFrame,
    train: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    alpha: float = 1.0,
) -> DataFrame:
    """Character n-gram language-model scoring — the CCNet-style
    LM-perplexity quality gate (Wenzek et al. 2020 rank crawl text by
    LM perplexity; at engine level that is: train n-gram counts on a
    reference corpus, score every document by average negative
    log-likelihood). Additive (Laplace) smoothing with parameter
    ``alpha``: ``p(c | ctx) = (cnt(ctx·c) + alpha) / (cnt(ctx) +
    alpha·V)`` with ``V`` the training charset size; a gram whose
    context was never seen scores ``1/V``.

    Per document: ``n_grams`` (length−n+1 sliding windows), ``avg_nll``
    (mean negative log-likelihood in nats, 6-dec) and ``ppl``
    (``exp(avg_nll)``, 6-dec — one libm exp after the deterministic
    mean, same 6-dec-hides-ulp policy as :func:`quality_logit`).

    Determinism: each distinct gram's NLL is quantized once to a 1e-6
    scaled BIGINT; a document's total is ``sum(tf * nll_q)`` — integer
    arithmetic, order-independent under any partitioning (the HITS/
    BM25 discipline). The only doubles are one ln per DISTINCT gram
    and one division + exp per document.

    Scale shape: grams explode natively (``transform(sequence(...))``,
    no Python); both model tables are vocabulary-sized groupBys that
    AQE broadcasts back; the scoring join moves (id, gram-hash, tf)
    only. ``train`` defaults to ``df`` (self-scoring).
    """
    if n < 2:
        raise ValueError("n must be >= 2")
    tr = train if train is not None else df
    txt = F.col(text_col)

    def grams_of(frame):
        # F.sequence(1, 0) is DESCENDING [1, 0] — guard sub-n docs
        g = F.when(
            F.length(txt) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(txt) - (n - 1)),
                lambda i: F.substring(txt, i, n),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return frame.select(
            F.col(id_col), F.explode(g).alias("gram")
        ).withColumn("ctx", F.substring(F.col("gram"), 1, n - 1))

    gcnt = grams_of(tr).groupBy("gram").agg(F.count(F.lit(1)).alias("gc"))
    ccnt = (
        grams_of(tr).groupBy("ctx").agg(F.count(F.lit(1)).alias("cc"))
    )
    vsize = (
        tr.select(
            F.explode(
                F.when(
                    F.length(txt) >= 1,
                    F.transform(
                        F.sequence(F.lit(1), F.length(txt)),
                        lambda i: F.substring(txt, i, 1),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("ch")
        )
        .agg(F.count_distinct("ch").alias("__v"))
    )
    doc_tf = (
        grams_of(df)
        .groupBy(id_col, "gram", "ctx")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nll = -F.log(
        (F.coalesce(F.col("gc"), F.lit(0)) + F.lit(alpha))
        / (F.coalesce(F.col("cc"), F.lit(0)) + F.lit(alpha) * F.col("__v"))
    )
    scored = (
        doc_tf.join(F.broadcast(gcnt), "gram", "left")
        .join(F.broadcast(ccnt), "ctx", "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            id_col,
            F.col("tf"),
            F.floor(nll * 1000000 + F.lit(0.5)).cast("long").alias("nq"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_grams"),
        F.sum(F.col("tf") * F.col("nq")).alias("__tot"),
    )
    avg_nll = F.col("__tot") / (F.col("n_grams") * 1000000)
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.round(F.coalesce(avg_nll, F.lit(0.0)), 6).alias("avg_nll"),
            F.round(F.exp(F.coalesce(avg_nll, F.lit(0.0))), 6).alias("ppl"),
        )
    )


def vocab_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group lexical-diversity report — the corpus health panel
    (vocabulary growth vs Heaps' law, hapax share, type-token ratio)
    that flags template farms (TTR collapses) and gibberish/OCR noise
    (hapax share explodes) before they poison a training mix.

    Per group: ``n_tokens``, ``n_types`` (distinct tokens),
    ``n_hapax`` (tokens occurring exactly once), ``ttr`` and
    ``hapax_frac`` (4-dec half-up).

    Scale shape: one (group, token) groupBy with map-side combine —
    the classic word-count — then a group-cardinality rollup; the text
    column crosses zero exchanges.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\W+"), lambda s: s != F.lit("")
    )
    pairs = df.select(
        F.col(group_col).alias("__g"), F.explode(toks).alias("__t")
    )
    counts = pairs.groupBy("__g", "__t").agg(F.count(F.lit(1)).alias("__c"))
    return counts.groupBy("__g").agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum((F.col("__c") == 1).cast("int")).cast("long").alias("n_hapax"),
        (
            F.floor(F.count(F.lit(1)) / F.sum("__c") * 10000 + F.lit(0.5))
            / 10000
        ).alias("ttr"),
        (
            F.floor(
                F.sum((F.col("__c") == 1).cast("int"))
                / F.greatest(F.count(F.lit(1)), F.lit(1))
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("hapax_frac"),
    ).withColumnRenamed("__g", group_col)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003
    — the MOSS construction, the position-robust alternative to plain
    shingle sets): hash every character ``k``-gram, then select the
    window minima — every position whose hash is the minimum of SOME
    length-``w`` window (the robust-winnowing guarantee: any match of
    length ≥ w+k-1 shares at least one selected fingerprint).

    Per doc: ``n_grams``, ``n_selected``, ``density`` (selected /
    grams, 4-dec — theoretical expectation ≈ 2/(w+1)), and ``digest``
    (md5 of the selected (pos:hash) sequence in position order —
    byte-exact identity for index/compare).

    All native: gram hashes are md5-prefix BIGINTs (the DuckDB-shared
    family), the sliding minimum is ONE id-partitioned window frame
    (rows between −(w−1) and 0) plus a lead-frame check — a position
    is selected iff it is the min of the window ENDING at its slot or
    of any of the next w−1 windows, equivalently ``hash ==
    min(frame)`` for some covering frame; computed as: hash equals the
    running min over the symmetric cover ``[-(w-1), +(w-1)]``? No —
    exactly: selected iff ∃ window W ∋ pos with hash == min(W), which
    for DISTINCT per-window minima is ``hash == min over
    [pos-w+1, pos+w-1] of any aligned frame``; we evaluate the w
    candidate frames via the single frame min over [-(w-1), 0] on the
    LEAD side: pos is selected iff min over [j-w+1, j] == hash(pos)
    for some j in [pos, pos+w-1]. Ties select BOTH positions (robust
    variant; deterministic on any engine — no leftmost/rightmost
    arbitration needed).
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    from pyspark.sql import Window

    txt = F.col(text_col)
    # NOTE: F.sequence(1, 0) yields a DESCENDING [1, 0] — guard short
    # docs explicitly or sub-k texts produce two bogus grams
    grams = F.when(
        F.length(txt) >= k,
        F.transform(
            F.sequence(F.lit(1), F.length(txt) - (k - 1)),
            lambda i: F.substring(txt, i, k),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(grams).alias("__pos", "__g"),
    ).select(
        "__id",
        "__pos",
        F.conv(F.substring(F.md5(F.col("__g")), 1, 15), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    wmin = Window.partitionBy("__id").orderBy("__pos").rowsBetween(-(w - 1), 0)
    g = g.withColumn("__wm", F.min("__h").over(wmin))
    # selected iff this hash equals the min of ANY window covering it:
    # the covering windows end at slots pos..pos+w-1, i.e. their mins
    # are __wm at those slots — check via a forward-looking frame min
    # of (__wm == __h at the slot that owns it)… simpler and exact:
    # hash == min over [pos-(w-1), pos+(w-1)] is NOT equivalent; we
    # instead mark slot-minima and propagate: pos selected iff
    # min(__wm over [pos, pos+w-1]) == __h(pos)? Also not it. The
    # direct statement: pos selected iff EXISTS j in [pos, pos+w-1]
    # with __wm(j) == __h(pos). Since __wm(j) <= __h(pos) always when
    # j covers pos, that equality holds iff max over those j of
    # __wm(j) == __h(pos).
    wfwd = Window.partitionBy("__id").orderBy("__pos").rowsBetween(0, w - 1)
    g = g.withColumn("__cov", F.max("__wm").over(wfwd))
    sel = g.withColumn("__sel", F.col("__cov") == F.col("__h"))
    per_doc = sel.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.col("__sel").cast("int")).cast("long").alias("n_selected"),
        (
            F.floor(
                F.sum(F.col("__sel").cast("int"))
                / F.count(F.lit(1))
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("density"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__sel"),
                                F.struct(F.col("__pos"), F.col("__h")),
                            )
                        )
                    ),
                    # posexplode is 0-based; the digest speaks 1-based
                    # positions (the SQL/DuckDB convention)
                    lambda s: F.concat_ws(
                        ":",
                        (s["__pos"] + 1).cast("string"),
                        s["__h"].cast("string"),
                    ),
                ),
                " ",
            )
        ).alias("digest"),
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_selected", F.lit(0)).cast("long").alias("n_selected"),
            F.coalesce("density", F.lit(0.0)).alias("density"),
            F.coalesce("digest", F.md5(F.lit(""))).alias("digest"),
        )
    )


def normalize_unicode(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode hygiene for scraped text — the mojibake/control-char
    cleanup every web corpus runs before tokenization: NFC
    normalization (composing decomposed accents so 'e'+U+0301 and 'é'
    dedupe/tokenize identically), control-character stripping (C0
    except tab/newline, plus DEL), and horizontal-whitespace collapse.

    Adds ``<text_col>_norm``, ``n_ctrl`` (control chars removed) and
    ``changed``. NFC itself is the ONE justified Python step (Spark
    has no native normalizer; Arrow-batched pandas UDF over
    ``unicodedata`` — the same Unicode tables DuckDB's nfc_normalize
    uses, which is what makes the oracle possible); everything after
    is native regex in whole-stage codegen. Zero shuffle.
    """
    _CTRL = r"[\x00-\x08\x0b-\x1f\x7f]"

    @pandas_udf("string")
    def nfc(texts: pd.Series) -> pd.Series:
        import unicodedata

        return texts.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    composed = nfc(F.col(text_col))
    n_ctrl = F.regexp_count(composed, F.lit(_CTRL))
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(composed, _CTRL, ""), r"[ \t]{2,}", " "
        )
    )
    return (
        df.withColumn("n_ctrl", n_ctrl.cast("long"))
        .withColumn(f"{text_col}_norm", cleaned)
        .withColumn("changed", F.col(f"{text_col}_norm") != F.col(text_col))
    )


def bigram_lm_metrics(
    df: DataFrame,
    train: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Word-bigram LM scoring with Stupid Backoff (Brants et al. 2007
    — the LM the original web-scale MT pipelines ran precisely because
    it needs NO normalization pass, making it the cheapest distributed
    LM): ``S(w|prev) = c(prev,w)/c(prev)`` when the bigram was seen,
    else ``alpha * c(w)/N`` (unigram backoff), else ``alpha / N``
    (OOV floor — a proper-LM epsilon stand-in keeping scores finite).

    The word-level complement of :func:`charlm_metrics` (same grid
    discipline: one ln per DISTINCT (bigram-or-backoff) score path,
    quantized to a 1e-6 BIGINT, per-doc totals integer-summed). Per
    doc: ``n_bigrams``, ``avg_nll`` (6-dec), ``n_backoff`` (positions
    scored through the backoff path — the novelty signal).

    Scale shape: model = two vocabulary-sized count tables, broadcast;
    scoring joins move (id, gram-hash, tf) only; ``train`` defaults to
    ``df``.
    """
    tr = train if train is not None else df

    def toks(frame):
        t = F.filter(
            F.split(F.lower(F.col(text_col)), r"\W+"),
            lambda s: s != F.lit(""),
        )
        return frame.select(F.col(id_col), t.alias("__toks"))

    def bigrams(frame):
        tk = toks(frame)
        return tk.select(
            F.col(id_col),
            F.explode(
                F.when(
                    F.size("__toks") >= 2,
                    F.zip_with(
                        F.slice(
                            F.col("__toks"), 1, F.size("__toks") - 1
                        ),
                        F.slice(F.col("__toks"), 2, F.size("__toks") - 1),
                        lambda a, b: F.struct(
                            a.alias("prev"), b.alias("w")
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<prev:string,w:string>>"))
            ).alias("g"),
        ).select(id_col, F.col("g.prev").alias("prev"), F.col("g.w").alias("w"))

    tr_bi = bigrams(tr)
    big_cnt = tr_bi.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("bc"))
    ctx_cnt = tr_bi.groupBy("prev").agg(F.count(F.lit(1)).alias("cc"))
    uni = (
        toks(tr)
        .select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("uc"))
    )
    n_total = toks(tr).select(
        F.sum(F.size("__toks")).cast("double").alias("__n")
    )

    doc_tf = bigrams(df).groupBy(id_col, "prev", "w").agg(
        F.count(F.lit(1)).alias("tf")
    )
    score = (
        F.when(
            F.col("bc").isNotNull(), F.col("bc") / F.col("cc")
        )
        .when(
            F.col("uc").isNotNull(),
            F.lit(alpha) * F.col("uc") / F.col("__n"),
        )
        .otherwise(F.lit(alpha) / F.col("__n"))
    )
    nll_q = F.floor(-F.log(score) * 1000000 + F.lit(0.5)).cast("long")
    backoff = F.col("bc").isNull()
    scored = (
        doc_tf.join(F.broadcast(big_cnt), ["prev", "w"], "left")
        .join(F.broadcast(ctx_cnt), "prev", "left")
        .join(F.broadcast(uni), "w", "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            id_col,
            "tf",
            nll_q.alias("nq"),
            backoff.cast("int").alias("bo"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.sum(F.col("tf") * F.col("nq")).alias("__tot"),
        F.sum(F.col("tf") * F.col("bo")).cast("long").alias("n_backoff"),
    )
    avg = F.col("__tot") / (F.col("n_bigrams") * 1000000)
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(F.coalesce(avg, F.lit(0.0)), 6).alias("avg_nll"),
            F.coalesce("n_backoff", F.lit(0)).cast("long").alias("n_backoff"),
        )
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    min_docs: int = 2,
    doc_frac: float = 0.5,
) -> DataFrame:
    """Per-group frequent-line (boilerplate) removal — the CCNet-style
    cleaning pass for web text (Wenzek et al. 2020 deduplicate/strip
    lines shared across a crawl snapshot; headers, footers, nav bars,
    cookie banners). A line is boilerplate when it appears in at least
    ``doc_frac`` of the group's documents (DISTINCT-document presence,
    not occurrence count) and the group holds at least ``min_docs``
    documents. Empty lines are dropped from both counting and output.

    Output per document: ``n_lines`` (non-empty input lines),
    ``n_removed`` (boilerplate occurrences stripped), ``removed_frac``
    (4-dec, half-up), and ``clean_text`` (surviving lines re-joined in
    original order).

    Scale shape: the line-frequency branch shuffles only
    ``(group, md5(line))`` pairs — raw line text never rides the stats
    exchange; presence is per-document-distinct *before* the count
    groupBy, so the combiner dedups map-side. Group document totals are
    a tiny aggregate joined back broadcast. Reassembly is the one
    unavoidable full-text shuffle: a groupBy on the doc id with an
    ``array_sort`` over ``(pos, line)`` structs — order restored
    without a window. The ``doc_frac`` threshold is evaluated in
    integer arithmetic (``n_with * 10000 >= frac10k * n_docs``), so the
    boundary is engine-exact at any scale.
    """
    if min_docs < 1 or not (0.0 < doc_frac <= 1.0):
        raise ValueError("need min_docs >= 1 and 0 < doc_frac <= 1")
    frac10k = int(round(doc_frac * 10000))
    lines = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias("__grp"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
        )
        .filter(F.col("__line") != "")
        .withColumn("__lh", F.md5(F.col("__line")))
    )
    n_docs = df.groupBy(F.col(group_col).alias("__grp")).agg(
        F.count_distinct(F.col(id_col)).alias("__n_docs")
    )
    line_docs = (
        lines.select("__grp", "__lh", "__id")
        .distinct()
        .groupBy("__grp", "__lh")
        .agg(F.count(F.lit(1)).alias("__n_with"))
    )
    boiler = (
        line_docs.join(F.broadcast(n_docs), "__grp")
        .filter(
            (F.col("__n_docs") >= min_docs)
            & (F.col("__n_with") * 10000 >= F.lit(frac10k) * F.col("__n_docs"))
        )
        .select("__grp", "__lh", F.lit(True).alias("__boiler"))
    )
    tagged = lines.join(boiler, ["__grp", "__lh"], "left")
    per_doc = tagged.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.coalesce(F.col("__boiler"), F.lit(False)).cast("int")).alias(
            "n_removed"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__boiler").isNull(),
                            F.struct(F.col("__pos"), F.col("__line")),
                        )
                    )
                ),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            (
                F.floor(
                    F.coalesce("n_removed", F.lit(0))
                    / F.greatest(F.coalesce("n_lines", F.lit(0)), F.lit(1))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("removed_frac"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def cross_doc_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-span statistics — the gram-granular
    Spark rendering of substring-level train-data dedup (Lee et al.
    2021 "Deduplicating Training Data Makes Language Models Better"
    finds exact substrings with a suffix array; a distributed engine
    approximates the same signal with rolling word ``n``-grams).

    A gram position is *duplicated* when the same ``n``-gram (by md5
    prefix) occurs in ≥ ``min_docs`` DISTINCT documents. Per document:

    * ``n_tokens`` / ``n_grams``  — corpus accounting
    * ``n_dup_grams``             — gram positions whose gram is shared
    * ``dup_gram_frac``           — n_dup_grams / n_grams
    * ``dup_token_frac``          — tokens covered by ≥1 duplicated
      window / n_tokens (interval UNION, not a sum — overlapping
      windows count once)

    Scale shape: the explode to (id, pos, gram) is O(tokens) — the
    inherent cost of gram-granular span detection. Shuffle 1: map-side
    partially-aggregated two-phase distinct-doc count per gram (ids
    only). Shuffle 2: semi-shaped join of doc grams against the
    shared-gram set on the gram hash (ids + 16-byte hash only; the
    html/text never moves). Shuffle 3: per-doc interval union as ONE
    partition window (running max of span ends ordered by start — the
    classic sorted-interval merge, no self-join). The final annotation
    join back onto the corpus is per-doc-stats-sized; AQE broadcasts it
    when dup docs are rare. Interval union stays exact under windows
    clipped at document end.
    """
    from pyspark.sql import Window

    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\W+"), lambda s: s != F.lit(""))
    cnt = F.size(toks)
    idx = F.when(cnt >= n, F.sequence(F.lit(0), cnt - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i + 1, n))), 1, 16),
    )
    doc_grams = df.select(
        F.col(id_col).alias("__id"),
        F.size(toks).alias("__n_tokens"),
        F.posexplode(grams).alias("__pos", "__gram"),
    )
    shared = (
        doc_grams.groupBy("__gram")
        .agg(F.count_distinct("__id").alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__gram")
    )
    dup_pos = doc_grams.join(shared, "__gram")
    w = (
        Window.partitionBy("__id")
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = dup_pos.withColumn(
        "__prev_end", F.coalesce(F.max(F.col("__pos") + n).over(w), F.lit(0))
    ).withColumn(
        "__new_cov",
        F.greatest(
            F.lit(0),
            F.col("__pos") + n - F.greatest(F.col("__prev_end"), F.col("__pos")),
        ),
    )
    per_doc = covered.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.sum("__new_cov").alias("__cov_tokens"),
    )
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.greatest(F.lit(0), F.size(toks) - n + 1).cast("long").alias("n_grams"),
    )
    return (
        base.join(per_doc.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "n_grams",
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
            F.when(F.col("n_grams") > 0,
                   F.coalesce(F.col("n_dup_grams"), F.lit(0)) / F.col("n_grams"))
            .otherwise(F.lit(0.0)).alias("dup_gram_frac"),
            F.when(F.col("n_tokens") > 0,
                   F.least(F.coalesce(F.col("__cov_tokens"), F.lit(0)), F.col("n_tokens"))
                   / F.col("n_tokens"))
            .otherwise(F.lit(0.0)).alias("dup_token_frac"),
        )
    )


def pack_sequences(
    df: DataFrame,
    ctx: int = 1024,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "concat",
    seed: int = 42,
) -> DataFrame:
    """Sequence packing: lay a corpus out into fixed-``ctx``-token
    training bins, the final step of an LLM data pipeline.

    Documents are first assigned to ``n_shards`` independent shards by a
    stable md5 hash of the id (a shard ≈ one output file / one worker's
    packing problem — packing is sequential WITHIN a shard but shards
    are embarrassingly parallel, which is how a 100 TB corpus packs on
    1000 executors), then ordered by id within the shard.

    * ``mode='concat'`` (default): GPT-style concatenate-then-chunk —
      the token stream of the shard is conceptually concatenated and
      cut every ``ctx`` tokens; a document may span bins. Pure window
      arithmetic (exclusive running sum of token counts), no Python:
      per doc we emit its global ``start_offset`` in the shard stream
      and the ``first_bin``/``last_bin`` it lands in.
    * ``mode='greedy'``: bin-per-document packing — a doc never splits;
      a new bin opens when the doc doesn't fit in the remaining space.
      Inherently a sequential scan per shard (bin state carries), so it
      runs as one applyInPandas pass per shard; docs longer than
      ``ctx`` get a bin of their own with ``overflow=true``.

    Output (both modes): ``id_col, shard, n_tokens, start_offset,
    first_bin, last_bin, n_bins_spanned`` (+ ``overflow`` in greedy
    mode, where first_bin == last_bin always and start_offset is the
    offset within the bin).

    Scale shape: one hash exchange on the shard key; inside each shard
    a single window cumsum (concat) or a single Arrow batch scan
    (greedy). Zero-token docs span 0 bins. Deterministic for any input
    partitioning — verified by the repartition-invariance test.
    """
    from pyspark.sql import Window

    n_tokens = token_count_expr(F.col(text_col))
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(f"shard{seed}"), F.col(id_col).cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long") % n_shards
    )
    base = df.select(
        F.col(id_col),
        shard.alias("shard"),
        n_tokens.cast("long").alias("n_tokens"),
    )
    if mode == "concat":
        w = (
            Window.partitionBy("shard")
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        out = base.withColumn(
            "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        # integer `div`, not floor(a/b): exact for any ctx (a double
        # quotient can round up across a bin boundary at large offsets)
        first_bin = F.expr(f"start_offset div {int(ctx)}")
        last_bin = F.expr(f"(start_offset + n_tokens - 1) div {int(ctx)}")
        return out.select(
            id_col,
            "shard",
            "n_tokens",
            "start_offset",
            F.when(F.col("n_tokens") > 0, first_bin).alias("first_bin"),
            F.when(F.col("n_tokens") > 0, last_bin).alias("last_bin"),
            F.when(F.col("n_tokens") > 0, last_bin - first_bin + 1)
            .otherwise(F.lit(0)).cast("long").alias("n_bins_spanned"),
        )
    if mode != "greedy":
        raise ValueError(f"unknown packing mode {mode!r}")

    # Derive the id field's type from the input frame: concat mode
    # preserves it naturally, and a hardcoded `long` here broke greedy
    # mode for string-keyed corpora (URL ids, the WET record-key
    # convention) at applyInPandas schema conversion.
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, shard long, n_tokens long, start_offset long, "
        "first_bin long, last_bin long, n_bins_spanned long, overflow boolean"
    )

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        bins, offs, overfl = [], [], []
        cur_bin, cur_fill = -1, 0  # zero remaining space forces a bin on the first doc
        for t in pdf["n_tokens"]:
            t = int(t)
            if t == 0:
                bins.append(-1)
                offs.append(0)
                overfl.append(False)
                continue
            if t > cur_fill:
                cur_bin += 1
                cur_fill = ctx
            offs.append(ctx - cur_fill)
            bins.append(cur_bin)
            overfl.append(t > ctx)
            cur_fill -= t
            if cur_fill < 0:  # overflow doc consumed its own bin entirely
                cur_fill = 0
        pdf["start_offset"] = offs
        pdf["first_bin"] = bins
        pdf["last_bin"] = bins
        pdf["n_bins_spanned"] = [0 if b < 0 else 1 for b in bins]
        pdf["overflow"] = overfl
        for c in ("first_bin", "last_bin"):
            pdf[c] = [None if b < 0 else b for b in pdf[c]]
        return pdf[
            [id_col, "shard", "n_tokens", "start_offset",
             "first_bin", "last_bin", "n_bins_spanned", "overflow"]
        ]

    return base.groupBy("shard").applyInPandas(pack_shard, out_schema)


# Fixed-point scale for the integer-sqrt weights in mixture_weights:
# isq = floor(sqrt(tokens * 2^20)). tokens*2^20 stays exactly
# representable in a double up to 2^53 (≈ 8e9 tokens per domain at this
# scale factor — raise the doc for bigger domains), and IEEE-754 sqrt is
# correctly rounded in every engine (Java Math.sqrt == C sqrt == DuckDB),
# so the WHOLE weight computation is reproducible bit-for-bit across
# engines: everything downstream of the sqrt is bigint / decimal
# arithmetic, no ordering-dependent float sums anywhere.
_MIX_SQRT_SCALE = 1 << 20


def mixture_weights(
    df: DataFrame,
    group_col: str = "source",
    target_tokens: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Per-domain temperature-mixing table (α = 0.5, the common
    "square-root scaling" for multi-source corpora — public recipe from
    the multilingual/corpus-mixing literature): domain *i* with
    ``tok_i`` tokens gets sampling weight ``w_i ∝ sqrt(tok_i)``, and a
    token budget ``target_tokens`` is split as ``q_i = w_i / Σw``.

    Emitted per domain: ``n_docs, n_tokens, weight_num`` (the integer
    sqrt weight), ``epochs`` (full passes over the domain =
    ``T·w_i DIV Σw·tok_i``) and ``rem_num/rem_den`` — the exact
    fractional remainder as a rational, consumed by
    :func:`mixture_resample` for deterministic per-doc residual
    sampling. All integer arithmetic after one correctly-rounded sqrt
    (see ``_MIX_SQRT_SCALE``), so any SQL engine reproduces the table
    exactly — no float sum ordering, no pow() libm divergence (α is
    pinned to 0.5 precisely because sqrt is the one IEEE-exact power).

    Scale shape: one map-side-combined groupBy on the domain; the
    result is domains-sized (tiny). ``target_tokens`` defaults to the
    corpus total (pure re-balancing).
    """
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_expr(F.col(text_col)).cast("long")).alias("n_tokens"),
    )
    isq = F.floor(F.sqrt((F.col("n_tokens") * _MIX_SQRT_SCALE).cast("double"))).cast("long")
    stats = stats.withColumn("weight_num", isq)
    totals = stats.agg(
        F.sum("weight_num").alias("__wsum"), F.sum("n_tokens").alias("__tsum")
    )
    stats = stats.crossJoin(F.broadcast(totals))
    target = F.lit(target_tokens) if target_tokens is not None else F.col("__tsum")
    # `div` (not floor(a/b)): exact 64-bit integer division — a double
    # quotient of ~1e13-scale numerators can round up across an integer
    # and disagree with the modulo below (and with a SQL engine's `//`).
    stats = stats.withColumn(
        "__num", (target.cast("long") * F.col("weight_num")).cast("long")
    ).withColumn("__den", (F.col("__wsum") * F.col("n_tokens")).cast("long"))
    return stats.select(
        group_col,
        "n_docs",
        "n_tokens",
        "weight_num",
        F.col("__wsum").alias("weight_den"),
        (F.col("__num") / F.col("__den")).alias("rate"),
        F.when(F.col("__den") > 0, F.expr("__num div __den"))
        .otherwise(F.lit(0)).cast("long").alias("epochs"),
        F.when(F.col("__den") > 0, F.col("__num") % F.col("__den"))
        .otherwise(F.lit(0)).cast("long").alias("rem_num"),
        F.col("__den").alias("rem_den"),
    )


def mixture_resample(
    df: DataFrame,
    weights: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    explode: bool = False,
) -> DataFrame:
    """Deterministic temperature resampling: each document receives
    ``n_copies = epochs + Bernoulli(rem)`` where the Bernoulli draw is
    the stable hash test ``h32·rem_den < rem_num·2^32`` with
    ``h32 = first 8 md5 hex digits of "mix:<seed>:<id>"`` — the same
    doc is kept on every run and every cluster size, and the expected
    token count per domain is exactly the mixture target. The compare
    runs in decimal(38,0) so it is EXACT (h32·den can reach ~2^79; both
    Spark decimal and DuckDB HUGEINT carry it losslessly).

    Scale shape: ``weights`` is domains-sized and broadcast — the
    corpus crosses ZERO exchanges: per-row hash + multiply, then
    (optionally, ``explode=True``) a generator for the epoch copies.
    This is the plan you want at 100 TB: resampling is a projection,
    not a shuffle.
    """
    h32 = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit("mix"), F.lit(str(seed)), F.col(id_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    w = F.broadcast(weights.select(group_col, "epochs", "rem_num", "rem_den"))
    out = (
        df.join(w, group_col, "left")
        .withColumn("__h32", h32)
        .withColumn(
            "n_copies",
            (
                F.coalesce(F.col("epochs"), F.lit(0))
                + F.when(
                    (F.col("__h32").cast("decimal(38,0)") * F.col("rem_den").cast("decimal(38,0)"))
                    < (F.col("rem_num").cast("decimal(38,0)") * F.lit(4294967296).cast("decimal(38,0)")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).cast("long"),
        )
        .drop("epochs", "rem_num", "rem_den", "__h32")
    )
    if not explode:
        return out
    return (
        out.filter(F.col("n_copies") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("n_copies"))))
    )


# Hand-set, documented weights for the reference quality model below —
# a stand-in for a trained classifier's coefficients (the PLUMBING is
# the product here: a real fasttext/logreg export drops into the same
# columns). Signs follow the public corpus-quality intuition: length
# and stopword density up, punctuation/digit/upper noise down.
QUALITY_LOGIT_WEIGHTS = {
    "bias": -1.0,
    "log_tokens": 0.55,       # log(1 + n_tokens)
    "punct_ratio": -4.0,
    "digit_ratio": -3.0,
    "upper_ratio": -1.5,
    "stopword_ratio": 2.5,
    "avg_token_len_dev": -0.6,  # |avg_token_len - 5|, distance from prose
}


def quality_logit(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = None,
    threshold: float = 0.5,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Model-based quality scoring — the "classifier filter" stage of a
    training-data pipeline (the public recipes run a linear/fasttext
    model over cheap features and keep docs above a probability
    threshold). Features are the native columns of
    :func:`quality_metrics`; the model is a fixed logistic layer:
    ``model_score = sigmoid(w·x + b)`` with :data:`QUALITY_LOGIT_WEIGHTS`
    (or caller-supplied coefficients — a trained export plugs in here).

    Adds ``model_logit`` (rounded 6), ``model_score`` (rounded 6) and
    ``model_keep`` (score ≥ threshold).

    Scale shape: a pure projection over whole-stage-codegen exprs —
    no Python, no shuffle; composes with train_filter/dedup gates at
    zero plan cost. The one transcendental is ``exp`` inside sigmoid
    (libm-correct to ≤1 ulp everywhere), so the rounded outputs are
    engine-replicable — the oracle recomputes the whole model in SQL.
    """
    w = dict(QUALITY_LOGIT_WEIGHTS)
    if weights:
        w.update(weights)
    qm = quality_metrics(df, text_col=text_col, lang_col=lang_col)
    z = (
        F.lit(float(w["bias"]))
        + F.lit(float(w["log_tokens"])) * F.log1p(F.col("n_tokens"))
        + F.lit(float(w["punct_ratio"])) * F.col("punct_ratio")
        + F.lit(float(w["digit_ratio"])) * F.col("digit_ratio")
        + F.lit(float(w["upper_ratio"])) * F.col("upper_ratio")
        + F.lit(float(w["stopword_ratio"])) * F.col("stopword_ratio")
        + F.lit(float(w["avg_token_len_dev"])) * F.abs(F.col("avg_token_len") - 5.0)
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return (
        qm.withColumn("model_logit", F.round(z, 6))
        .withColumn("model_score", F.round(score, 6))
        .withColumn("model_keep", F.round(score, 6) >= F.lit(float(threshold)))
    )


def pack_examples(
    df: DataFrame,
    ctx: int = 1024,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Materialize :func:`pack_sequences` (concat mode) into the actual
    training examples: one row per (shard, bin) holding the bin's
    ``tokens`` array in stream order — what a trainer memory-maps.

    Construction is fully native: the per-doc ``start_offset`` from the
    packing window gives every token a GLOBAL position in its shard's
    stream (``start_offset + posexplode index``); ``pos div ctx`` is
    its bin; one groupBy (shard, bin) reassembles each example with
    ``array_sort(collect_list(struct(pos, token)))`` — order restored
    by position, not by arrival.

    Scale shape: the token-level explode is O(tokens) rows of (shard,
    bin, pos, token) — unavoidable for materialization (this IS the
    output payload) — and the single exchange is on (shard, bin), i.e.
    uniformly distributed by construction, no skew possible. Every bin
    holds exactly ``ctx`` tokens except the last of each shard
    (``n_tokens`` column says which). A doc split across bins
    contributes its head/tail to adjacent bins — byte-for-byte the
    concat-and-chunk layout GPT-style training uses.
    """
    packed = pack_sequences(
        df, ctx=ctx, n_shards=n_shards, text_col=text_col,
        id_col=id_col, mode="concat", seed=seed,
    )
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda s: s != F.lit("")
    )
    with_text = packed.join(
        df.select(F.col(id_col), F.col(text_col)), id_col
    )
    exploded = with_text.select(
        "shard", "start_offset", F.posexplode(toks).alias("__p", "__tok")
    ).select(
        "shard",
        (F.col("start_offset") + F.col("__p")).alias("__pos"),
        "__tok",
    )
    return (
        exploded
        .withColumn("bin", F.expr(f"__pos div {int(ctx)}"))
        .groupBy("shard", "bin")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("__pos"), F.col("__tok")))),
                lambda s: s["__tok"],
            ).alias("tokens"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    size: int = 1024,
    reserved: int = 1,
) -> DataFrame:
    """Frequency-ranked vocabulary over the corpus: the top-``size``
    whitespace tokens get ids ``reserved .. reserved+size-1`` (rank
    order; ties break lexicographically so the table is deterministic),
    ids below ``reserved`` stay free for specials (0 = OOV/UNK by
    convention in :func:`encode_tokens`).

    Scale shape: one map-side-combined token count + a global top-k
    (``TakeOrderedAndProject`` — only ``size`` rows reach the driver's
    plan, the corpus never sorts globally). The result is small by
    construction and meant to be broadcast by the consumer.
    """
    from pyspark.sql import Window

    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda s: s != F.lit(""))
    counts = (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(size)
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return counts.withColumn(
        "token_id", (F.row_number().over(w) + reserved - 1).cast("long")
    )


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = 0,
) -> DataFrame:
    """Integer-encode each document against a :func:`build_vocab`
    table: adds ``token_ids`` (array<long>, document order, OOV →
    ``oov_id``) and ``oov_frac`` — the tokenizer step that feeds
    :func:`pack_examples`-style materialization with model-ready ids.

    Scale shape: the corpus explodes to (id, pos, token), inner-hash
    joins the BROADCAST vocab (small by construction), and reassembles
    per doc with one exchange on the id — order restored by
    ``array_sort(struct(pos, id))`` exactly like pack_examples. Docs
    with zero tokens yield an empty array, not null.
    """
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda s: s != F.lit(""))
    v = F.broadcast(vocab.select("token", "token_id"))
    exploded = df.select(
        F.col(id_col), F.posexplode(toks).alias("__pos", "token")
    )
    coded = (
        exploded.join(v, "token", "left")
        .select(
            id_col,
            "__pos",
            F.coalesce(F.col("token_id"), F.lit(int(oov_id))).alias("__tid"),
            F.col("token_id").isNull().cast("int").alias("__oov"),
        )
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("__pos"), F.col("__tid")))),
                lambda s: s["__tid"],
            ).alias("token_ids"),
            (F.sum("__oov") / F.count(F.lit(1))).alias("oov_frac"),
        )
    )
    return (
        df.join(coded, id_col, "left")
        .withColumn(
            "token_ids",
            F.coalesce(F.col("token_ids"), F.array().cast("array<bigint>")),
        )
        .withColumn("oov_frac", F.coalesce(F.col("oov_frac"), F.lit(0.0)))
    )
