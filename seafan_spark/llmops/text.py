"""Text analysis operators — all pure JVM Column expressions (no UDFs):
token counting, character-class ratios, a deterministic quality score,
n-gram-free stopword language ID, and content fingerprinting.

Every formula here is deliberately expressible in ANSI SQL so the DuckDB
oracle can verify it value-for-value at any scale factor.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from seafan_spark.rounding import round_col
from seafan_spark.session import _local_frame, _plan_literal

# small per-language stopword probes (word-boundary counted, lowercased)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "que", "los", "una"],
    "fr": ["le", "les", "des", "est", "une"],
    "zh": ["de", "shi", "zai", "le", "he"],
}


def norm_text_col(text: Column) -> Column:
    """Lowercase, trim, collapse whitespace — the canonical form used by
    fingerprints and dedup."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def let_col(val: Column, body) -> Column:
    """Column-algebra ``let``: evaluate ``val`` ONCE per row and hand the
    materialized value to ``body`` as a lambda variable.

    Higher-order functions are CodegenFallback — interpreted, with no
    common-subexpression elimination — so an expression captured inside
    a HOF lambda re-evaluates once PER ELEMENT. A normalization regex
    captured by a per-shingle lambda turns an O(len) pass into O(len^2)
    per row (measured 5x on the minhash shingle stage at sf0.1). The
    singleton transform binds it once; ``body`` must return an
    expression whose type is a valid array element (any SQL type is)."""
    return F.element_at(F.transform(F.array(val), body), 1)


def token_count_col(text: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def char_count_col(text: Column) -> Column:
    return F.length(text)


def _class_ratio(text: Column, pattern: str) -> Column:
    """Fraction of characters matching a regex character class."""
    n = F.length(text)
    kept = F.length(F.regexp_replace(text, pattern, ""))
    return F.when(n == 0, F.lit(0.0)).otherwise((n - kept).cast("double") / n)


def punct_ratio_col(text: Column) -> Column:
    return _class_ratio(text, r"[.,;:!?'\"()\[\]{}\-]")


def digit_ratio_col(text: Column) -> Column:
    return _class_ratio(text, r"[0-9]")


def upper_ratio_col(text: Column) -> Column:
    return _class_ratio(text, r"[A-Z]")


def avg_token_len_col(text: Column) -> Column:
    """Mean token length: non-space chars / token count."""
    t = F.trim(text)
    toks = token_count_col(text)
    nonspace = F.length(F.regexp_replace(t, r"\s+", ""))
    return F.when(toks == 0, F.lit(0.0)).otherwise(nonspace.cast("double") / toks)


def _token_hits(toks: Column, words: list[str]) -> Column:
    """Count of the tokens in ``toks`` equal to any of ``words``: one
    array filter testing each token against the word list, which enters
    the plan as one literal."""
    ws = _plan_literal(list(words), "array<string>")
    return F.size(F.filter(toks, lambda t: F.array_contains(ws, t))).cast("long")


def stopword_hits_col(text: Column, words: list[str]) -> Column:
    """Count of whitespace tokens equal to any of the given (lowercased)
    words: one split of the normalized text, then a single array filter
    over a short word list — O(tokens) cheap string equality, no
    repeated whole-text scans. SQL twin: ``len(list_filter(str_split(norm,
    ' '), t -> t IN (...)))``."""
    return _token_hits(F.split(norm_text_col(text), " "), words)


def lang_id_col(text: Column, langs: dict[str, list[str]] | None = None) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts;
    ties resolve to the alphabetically-first language (deterministic).
    Zero hits everywhere -> 'und' (undetermined)."""
    langs = langs or LANG_STOPWORDS
    hits = {lang: stopword_hits_col(text, ws) for lang, ws in sorted(langs.items())}
    best_lang = F.lit("und")
    best_hits = F.lit(0).cast("long")
    # iterate descending-alphabetical so earlier alphabet wins ties with >
    for lang in sorted(hits, reverse=True):
        h = hits[lang]
        cond = h >= best_hits
        # strictly-greater keeps the later (alphabetically earlier) winner
        best_lang = F.when(h >= best_hits, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, h).otherwise(best_hits)
    return F.when(best_hits == 0, F.lit("und")).otherwise(best_lang)


def quality_score_col(text: Column) -> Column:
    """Deterministic [0,1] quality score:

        0.4 * min(tokens, 100)/100            (enough content)
      + 0.3 * (1 - min(punct_ratio*4, 1))     (not punctuation soup)
      + 0.3 * clamp((avg_token_len-2)/6, 0, 1) (real words)

    The exact formula is arbitrary by design; what matters is that it is
    pure column arithmetic (scales to any corpus) and SQL-mirrorable.
    """
    toks = token_count_col(text).cast("double")
    punct = punct_ratio_col(text)
    awl = avg_token_len_col(text)
    c1 = F.least(toks, F.lit(100.0)) / F.lit(100.0)
    c2 = F.lit(1.0) - F.least(punct * 4, F.lit(1.0))
    c3 = F.least(F.greatest((awl - 2) / 6, F.lit(0.0)), F.lit(1.0))
    # expensive: the components are regex ratios over the raw text
    return round_col(0.4 * c1 + 0.3 * c2 + 0.3 * c3, 6, expensive=True)


def add_text_features(df, text_col: str = "text"):
    """All text-analysis features in three staged projections:

    stage 1 materializes the trimmed text and the normalized token array
    (ONE regexp + ONE split per row); stage 2 derives counts/ratios and
    per-language stopword hits from those; stage 3 is pure arithmetic and
    a when-chain over cheap column references.

    The staging matters: Catalyst will not inline a non-trivial expression
    that downstream references more than once, so each regex/split runs
    once per row — the single-projection form re-evaluates them per
    reference (and can overflow the 64KB codegen budget into interpreted
    mode). Adds: n_tokens, n_chars, punct_ratio, avg_tok_len, quality,
    pred_lang."""
    t = F.col(text_col)
    s1 = df.withColumns(
        {
            "_tt": F.trim(t),
            "_toks": F.split(norm_text_col(t), " "),
        }
    )
    hit_cols = {
        f"_h_{lang}": _token_hits(F.col("_toks"), ws)
        for lang, ws in sorted(LANG_STOPWORDS.items())
    }
    s2 = s1.withColumns(
        {
            "n_tokens": F.when(F.length("_tt") == 0, F.lit(0)).otherwise(F.size("_toks")),
            "n_chars": F.length(t),
            "punct_ratio": punct_ratio_col(t),
            "_nonspace": F.aggregate(
                F.col("_toks"), F.lit(0), lambda acc, x: acc + F.length(x)
            ),
            **hit_cols,
        }
    )
    toks = F.col("n_tokens").cast("double")
    awl = F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
        F.col("_nonspace").cast("double") / F.col("n_tokens")
    )
    c1 = F.least(toks, F.lit(100.0)) / F.lit(100.0)
    c2 = F.lit(1.0) - F.least(F.col("punct_ratio") * 4, F.lit(1.0))
    c3 = F.least(F.greatest((awl - 2) / 6, F.lit(0.0)), F.lit(1.0))
    best_lang = F.lit("und")
    best_hits = F.lit(0).cast("long")
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        h = F.col(f"_h_{lang}")
        best_lang = F.when(h >= best_hits, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(h >= best_hits, h).otherwise(best_hits)
    best_lang = F.when(best_hits == 0, F.lit("und")).otherwise(best_lang)
    s3 = s2.withColumns(
        {
            "avg_tok_len": awl,
            "quality": round_col(0.4 * c1 + 0.3 * c2 + 0.3 * c3, 6),
            "pred_lang": best_lang,
        }
    )
    return s3.drop("_tt", "_toks", "_nonspace", *hit_cols.keys())


def fingerprint_col(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text. md5 (not xxhash)
    because it is reproducible across engines — the DuckDB oracle computes
    the identical digest."""
    return F.md5(norm_text_col(text))


def hash60_col(c: Column, portable: bool = False) -> Column:
    """60-bit non-negative string hash — the base hash of every signature
    scheme (minhash / simhash / winnowing). Two modes, same downstream
    integer mixing either way:

    - ``portable=False`` (default, production): the top 60 bits of Spark's
      native ``xxhash64`` — one JVM intrinsic per string, roughly an order
      of magnitude cheaper than a cryptographic digest. This is the hash
      the hot loop (once per shingle) should run at 100 TB.
    - ``portable=True`` (cross-engine verification): the first 15 hex
      digits of the md5 digest as a bigint — reproducible in any engine
      (the DuckDB twin is ``('0x' || substr(md5(x), 1, 15))::BIGINT``),
      which is what makes the correctness oracles hash-checkable.

    Both produce a uniform value in [0, 2^60); signatures from the two
    modes are internally consistent but not interchangeable (pick one per
    signature store)."""
    if portable:
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    return F.shiftrightunsigned(F.xxhash64(c), 4).cast("long")


def shingles_col(text: Column, k: int = 5) -> Column:
    """Distinct character k-shingles of the normalized text (basis for
    MinHash). JVM higher-order functions; short texts yield the whole
    text as a single shingle.

    The normalized text is let-bound (:func:`let_col`) so the
    normalization regex runs once per row, not once per shingle position
    (HOF lambdas are interpreted with no CSE — measured 5x here)."""

    def body(t: Column) -> Column:
        n = F.length(t)
        return F.when(n <= k, F.array(t)).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(k) + 1),
                    lambda i: t.substr(i, F.lit(k)),
                )
            )
        )

    return let_col(norm_text_col(text), body)


#: GPT-2-style pre-tokenizer pattern (public: openai/gpt-2 encoder.py /
#: tiktoken): contractions, optionally-space-prefixed letter runs, digit
#: runs, punctuation runs, residual whitespace. Java regex dialect
#: (\p{L}/\p{N} Unicode classes).
BPE_PRETOKEN_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_token_estimate_col(text: Column) -> Column:
    """Estimated BPE token count: the number of GPT-2 pre-tokenizer matches.

    Every real BPE token boundary falls inside a pre-token, so this counts
    merge groups — a stable ~lower-bound estimate of e.g. tiktoken counts
    without shipping a vocabulary. Pure JVM ``regexp_count``; no UDF.
    """
    return F.when(
        F.length(F.trim(text)) == 0, F.lit(0)
    ).otherwise(F.regexp_count(text, F.lit(BPE_PRETOKEN_RE))).cast("long")


def winnow_fingerprints_col(
    text: Column, k: int = 8, w: int = 4, portable: bool = False
) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD 2003): hash every character ``k``-gram of the normalized text
    (the rolling-hash step; one 60-bit ``hash60_col`` per gram,
    vectorized JVM), then keep the minimum hash of each window of ``w``
    consecutive gram hashes and de-duplicate. Guarantees any match of
    length >= k+w-1 shares a fingerprint, with ~2/(w+1) of hashes
    retained. ``portable=True`` switches the gram hash to the md5-based
    engine-portable mode so a DuckDB twin hash-checks this end-to-end;
    the default xxhash64 mode is the production path (the gram hash runs
    once per character position — the hottest loop here).

    Pure higher-order Column functions — O(len * w) JVM comparisons per
    document, no shuffle, no Python.
    """
    # both levels are let-bound (let_col): the normalized text would
    # otherwise re-run its regex once per gram position, and the gram
    # array would re-run the whole O(len) hash pass once per window
    # element — O(len^2) either way (HOF lambdas are interpreted, no CSE)
    def body(t: Column) -> Column:
        n = F.length(t)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(n - F.lit(k) + 1, F.lit(1))),
            lambda i: hash60_col(t.substr(i, F.lit(k)), portable=portable),
        )
        wins = let_col(
            grams,
            lambda g: F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(g) - F.lit(w) + 1, F.lit(1))),
                lambda i: F.array_min(F.slice(g, i, F.least(F.lit(w), F.size(g)))),
            ),
        )
        return F.array_sort(F.array_distinct(wins))

    return let_col(norm_text_col(text), body)


def repetition_ratio_col(text: Column, n: int = 3) -> Column:
    """Duplicate word-``n``-gram fraction: 1 - distinct/total n-grams of
    the normalized text — the standard boilerplate/repetition quality
    signal. Texts with fewer than ``n`` tokens score 0.0. Pure JVM
    higher-order columns."""
    # token array and gram array let-bound (let_col): captured inside the
    # HOF lambdas they would re-split / re-build once per element
    def body(toks: Column) -> Column:
        cnt = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(cnt - F.lit(n), F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
        ratio = let_col(
            grams,
            lambda g: F.lit(1.0)
            - F.size(F.array_distinct(g)).cast("double") / F.size(g),
        )
        return F.when(cnt < n, F.lit(0.0)).otherwise(ratio)

    return let_col(F.split(norm_text_col(text), " "), body)


#: PII patterns restricted to syntax Java regex and RE2 (DuckDB) share —
#: no lookarounds/backrefs — so detection counts are oracle-checkable.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d{1,3}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_count_col(text: Column, kind: str) -> Column:
    """Count of PII-pattern matches of ``kind`` (see PII_PATTERNS).
    Vectorized ``regexp_count`` — no UDF. A redaction pass is the same
    pattern through ``regexp_replace``."""
    if kind not in PII_PATTERNS:
        raise ValueError(f"pii_count_col: unknown kind {kind!r}; have {sorted(PII_PATTERNS)}")
    return F.regexp_count(text, F.lit(PII_PATTERNS[kind])).cast("long")


def redact_pii_col(text: Column, kinds: Sequence[str] | None = None, token: str = "[PII]") -> Column:
    """Replace every PII match with ``token``; kinds default to all."""
    out = text
    for kind in kinds or sorted(PII_PATTERNS):
        if kind not in PII_PATTERNS:
            raise ValueError(f"redact_pii_col: unknown kind {kind!r}")
        out = F.regexp_replace(out, PII_PATTERNS[kind], token)
    return out


def tfidf_top_terms(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_df: int = 1,
) -> "DataFrame":
    """Top-``k`` TF-IDF terms per document (sklearn-style smooth idf:
    ``tf * (ln((1+N)/(1+df)) + 1)``).

    Plan at scale: explode tokens -> per-(doc,term) counts (one shuffle,
    map-side combine) -> document frequencies (second shuffle over the
    vocabulary, far smaller) -> shuffle equi-join tf x df on term (AQE
    handles stop-word skew) -> broadcast 1-row N -> per-doc window
    top-k. No driver-side data, no cartesian."""
    from pyspark.sql import Window

    d = getattr(df, "df", df)
    toks = d.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(norm_text_col(F.col(text_col)), " ")).alias("term"),
    )
    tf = toks.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (
                F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df")))
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy("_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_id").alias(id_col),
            "term",
            round_col("score", 6).alias("score"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def bm25_scores(
    df,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> "DataFrame":
    """BM25 ranked retrieval (Robertson et al., TREC-3 Okapi): the
    standard lexical scorer an LLM-data pipeline uses for hard-negative
    mining and contamination triage — the third input, next to TF-IDF
    and ANN cosine, that :func:`seafan_spark.rank.rrf_fuse` fuses.

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        idf(t)   = ln(1 + (N − df + ½) / (df + ½))     (Lucene's
                   non-negative variant of the RSJ weight)

    Returns the top-``k`` documents: (id_col, score, rank), score
    rounded to 6 dp, rank ordered by (rounded score DESC, id ASC) — the
    rounded sort key keeps the ranking cross-engine stable (1-ulp log
    differences must not reorder ranks).

    Plan at scale: the corpus is scanned twice, both column-pruned to
    (id, text) — once for the per-doc length dl and the global
    (N, avgdl) scalar, once exploded to tokens with the query-term
    ``isin`` filter applied IN THE SAME STAGE as the explode, so the
    only shuffle carries (doc, query-term) hits, never the token
    stream. df-per-term (≤ |terms| rows) and the stats row ride back as
    broadcasts; dl travels in the groupBy key (functionally dependent
    on the doc id — no corpus-sized join); the final top-k is an
    ORDER-BY-LIMIT (WindowGroupLimit class), never a global sort."""
    from pyspark.sql import Window

    terms = [str(t) for t in query_terms]
    if not terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    d = getattr(df, "df", df)
    norm = d.select(
        F.col(id_col).alias("_id"),
        F.split(norm_text_col(F.col(text_col)), " ").alias("_toks"),
    )
    with_dl = norm.select("_id", F.size("_toks").alias("_dl"), "_toks")
    stats = with_dl.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.avg(F.col("_dl").cast("double")).alias("_avgdl"),
    )
    tf = (
        with_dl.select("_id", "_dl", F.explode("_toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("_id", "_dl", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    k1l, bl = F.lit(float(k1)), F.lit(float(b))
    tfd, dfd = F.col("_tf").cast("double"), F.col("_df").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n_docs") - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
    )
    sat = (tfd * (k1l + F.lit(1.0))) / (
        tfd
        + k1l
        * (F.lit(1.0) - bl + bl * F.col("_dl").cast("double") / F.col("_avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("_id")
        .agg(F.sum(idf * sat).alias("_score"))
    )
    top = (
        scored.select("_id", round_col("_score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("_id").asc())
        .limit(k)
    )
    # <= k rows post-limit: the constant-key window is deliberate (the
    # vocab_top_terms pattern) and ranks over the ROUNDED score
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("score").desc(), F.col("_id").asc()
    )
    return top.select(
        F.col("_id").alias(id_col),
        "score",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


def word_ngrams_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text. The token array is
    let-bound (:func:`let_col`) so the split + normalization regex run
    once per row, not once per n-gram position."""

    def body(toks: Column) -> Column:
        cnt = F.size(toks)
        return F.when(cnt < n, F.array(F.concat_ws(" ", toks))).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), cnt - F.lit(n)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                )
            )
        )

    return let_col(F.split(norm_text_col(text), " "), body)


def vocab_top_terms(df, text_col: str = "text", k: int = 50) -> "DataFrame":
    """Corpus vocabulary: the ``k`` most frequent normalized whitespace
    tokens with counts and 1-based rank (ties broken by term).

    Explode -> groupBy(term) count (one shuffle, map-side combine over
    the vocabulary — never the corpus) -> global top-k via a single
    ORDER-BY-LIMIT over the (small) vocabulary relation, not a
    one-partition window over data."""
    from pyspark.sql import Window

    d = getattr(df, "df", df)
    counts = (
        d.select(F.explode(F.split(norm_text_col(F.col(text_col)), " ")).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(k)
    )
    # constant partition key: the relation is <= k rows post-limit, so the
    # single-task window is deliberate — the explicit key documents that
    # (and keeps WindowExec's single-partition warning out of the logs)
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("n").desc(), F.col("term").asc())
    return counts.select(
        "term", "n", F.row_number().over(w).cast("bigint").alias("rank")
    )


# ------------------------------------------------------------- chunking ----
def chunk_count_col(text: Column, size: int, overlap: int) -> Column:
    """Number of sliding chunks covering ``text``: step = size - overlap;
    ceil((len - overlap) / step), minimum 1 (empty/short text yields one
    chunk). Plain arithmetic — identical in any engine."""
    step = size - overlap
    n = F.length(text)
    return F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(float(step))).cast("int"),
    )


def chunk_documents(
    pipe_or_df,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size overlapping character chunks — the
    standard pre-tokenization step of training-data and retrieval
    pipelines. One row per chunk:

    - ``chunk_id``   0-based position within the document
    - ``char_start`` 1-based offset of the chunk in the original text
    - ``chunk``      the substring (length <= size; consecutive chunks
      share ``overlap`` characters)

    Pure JVM higher-order functions (sequence -> transform -> explode ->
    substr): no UDF, no shuffle — chunking is embarrassingly parallel and
    the plan stays a narrow projection over the scan, so at 100 TB this
    runs at scan speed. The arithmetic is engine-portable (DuckDB twin
    uses the same formulas), so the oracle hash-checks every chunk
    boundary."""
    df = getattr(pipe_or_df, "df", pipe_or_df)
    if overlap >= size:
        raise ValueError("chunk_documents: overlap must be < size")
    step = size - overlap
    t = F.col(text_col)
    chunks = F.transform(
        F.sequence(F.lit(0), chunk_count_col(t, size, overlap) - F.lit(1)),
        lambda i: F.struct(
            i.cast("bigint").alias("chunk_id"),
            (i * step + 1).cast("bigint").alias("char_start"),
            t.substr((i * step + 1).cast("int"), F.lit(size)).alias("chunk"),
        ),
    )
    return df.select(F.col(id_col), F.explode(chunks).alias("_c")).select(
        id_col,
        F.col("_c.chunk_id").alias("chunk_id"),
        F.col("_c.char_start").alias("char_start"),
        F.col("_c.chunk").alias("chunk"),
    )


# --------------------------------------------------------- collocations ----
def collocation_top_terms(
    df,
    text_col: str = "text",
    k: int = 50,
    min_count: int = 5,
    broadcast_vocab: bool = True,
) -> "DataFrame":
    """Top-``k`` adjacent-bigram collocations by pointwise mutual
    information: PMI(x,y) = ln( p(x,y) / (p(x)p(y)) ) with p(x,y) over
    all corpus bigrams and p(x) over all corpus unigrams.  The standard
    corpus-linguistics association measure (Church & Hanks, CL 1990);
    ``min_count`` suppresses the low-frequency pairs whose PMI is pure
    noise.

    Returns (w1, w2, c_xy, pmi, rank) — rank 1 = strongest association,
    ties broken lexicographically.

    100 TB design: two explode->groupBy count passes over the corpus
    (map-side partial agg shrinks each to its vocabulary-sized domain
    before the shuffle); the ``min_count`` filter prunes the bigram tail
    BEFORE the two unigram joins, and the unigram table broadcasts (it
    is vocabulary-sized, not corpus-sized; pass
    ``broadcast_vocab=False`` for a web-scale vocabulary too big to
    broadcast — the two joins fall back to shuffle equi-joins on the
    token keys, same convention as lm_score_docs).  Totals ride along as
    one-row broadcast cross joins.  Top-k is an ORDER-BY-LIMIT over the
    surviving bigram relation, never a one-partition window over data.
    """
    from pyspark.sql import Window

    d = getattr(df, "df", df)
    toks = F.split(norm_text_col(F.col(text_col)), " ")
    n_tok = F.size(toks)
    bigrams = F.when(
        n_tok >= 2,
        F.zip_with(
            F.slice(toks, 1, n_tok - 1),
            F.slice(toks, 2, n_tok - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array())

    # both count tables are vocabulary-sized post-aggregation but derive
    # from a corpus explode: checkpoint each so its ONE corpus pass is
    # shared by every consumer (uni feeds the total AND two joins; bi
    # feeds the total AND the scored relation) — without this the plan
    # re-explodes the corpus once per consumer
    uni = (
        d.select(F.explode(toks).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    bi = (
        d.select(F.explode(bigrams).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .localCheckpoint(eager=False)
    )
    n_uni = uni.agg(F.sum("_c").alias("_nu"))
    n_bi = bi.agg(F.sum("c_xy").alias("_nb"))

    u1 = uni.select(F.col("w").alias("w1"), F.col("_c").alias("_cx"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("_c").alias("_cy"))
    if broadcast_vocab:
        u1, u2 = F.broadcast(u1), F.broadcast(u2)
    scored = (
        bi.filter(F.col("c_xy") >= F.lit(int(min_count)))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .withColumn(
            "pmi",
            F.log(
                (F.col("c_xy") / F.col("_nb"))
                / ((F.col("_cx") / F.col("_nu")) * (F.col("_cy") / F.col("_nu")))
            ),
        )
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
    )
    # <= k rows post-limit; the constant key documents the deliberate
    # single-task window (same convention as vocab_top_terms)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    )
    return scored.select(
        "w1",
        "w2",
        "c_xy",
        "pmi",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------- corpus shape ----
def zipf_stats(df, text_col: str = "text", top_n: int = 1000) -> "DataFrame":
    """Corpus-shape diagnostics in one row: vocabulary size, type-token
    ratio, hapax ratio, and the Zipf exponent — the slope of
    ``ln(freq) ~ ln(rank)`` fit by least squares over the ``top_n`` most
    frequent terms (natural language sits near -1; a slope far off
    flags TEMPLATED or machine-generated corpora — the curation signal).

    Returns (n_tokens, n_types, ttr, hapax_ratio, zipf_slope,
    zipf_intercept, zipf_r2).

    Scale shape: ONE explode->groupBy(term) pass shrunk map-side to the
    vocabulary; ranking and the regression happen on the top-``top_n``
    vocabulary slice (ORDER-BY-LIMIT, then the same five-moment
    closed-form as agg.ols_by over <= top_n rows); the scalar corpus
    totals (tokens/types/hapax) come from one aggregation of the
    vocabulary relation.  The corpus itself is scanned once.
    """
    from pyspark.sql import Window

    d = getattr(df, "df", df)
    counts = (
        d.select(F.explode(F.split(norm_text_col(F.col(text_col)), " ")).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # vocabulary-sized; feeds totals AND the fit
    )
    totals = counts.agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("_hapax"),
    )
    top = counts.orderBy(F.col("c").desc(), F.col("term").asc()).limit(top_n)
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("c").desc(), F.col("term").asc())
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    fit = xy.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("_sx"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("x") * F.col("y")).alias("_sxy"),
        F.sum(F.col("x") * F.col("x")).alias("_sxx"),
        F.sum(F.col("y") * F.col("y")).alias("_syy"),
    )
    mm = F.col("m").cast("double")
    cov_n = mm * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    var_x_n = mm * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    var_y_n = mm * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = F.when(var_x_n != 0.0, cov_n / var_x_n)
    intercept = (F.col("_sy") - slope * F.col("_sx")) / mm
    r2 = F.when(
        (var_x_n != 0.0) & (var_y_n != 0.0), (cov_n * cov_n) / (var_x_n * var_y_n)
    )
    from seafan_spark.rounding import round_col

    return totals.crossJoin(F.broadcast(fit)).select(
        F.col("n_tokens"),
        F.col("n_types"),
        round_col(F.col("n_types").cast("double") / F.col("n_tokens"), 6).alias("ttr"),
        round_col(
            F.col("_hapax").cast("double") / F.col("n_types"), 6
        ).alias("hapax_ratio"),
        round_col(slope, 6).alias("zipf_slope"),
        round_col(intercept, 6).alias("zipf_intercept"),
        round_col(r2, 6).alias("zipf_r2"),
    )


# ---------------------------------------------------------------- URLs ----
#: URL component patterns restricted to Java/RE2-shared syntax (no
#: lookarounds), so extractions are oracle-checkable cross-engine.
URL_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
URL_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)"
URL_DOMAIN_RE = r"([^.]+\.[^.]+)$"


def url_host_col(url: Column) -> Column:
    """Hostname of a URL (authority minus userinfo/port); '' when the
    value is not an absolute URL."""
    return F.regexp_extract(url, URL_HOST_RE, 1)


def url_domain_col(url: Column) -> Column:
    """Registered-domain approximation: the last two labels of the
    host (``www.en.site.com -> site.com``).  A public-suffix list would
    refine co.uk-style hosts; the two-label heuristic is the standard
    cheap grouping key for per-domain corpus stats (CCNet groups
    documents by domain before per-domain quality decisions)."""
    return F.regexp_extract(url_host_col(url), URL_DOMAIN_RE, 1)


def url_path_col(url: Column) -> Column:
    """Path component ('' when absent)."""
    return F.regexp_extract(url, URL_PATH_RE, 1)


# ------------------------------------------------------- feature hashing ----
def hashed_doc_vectors(
    df,
    id_col: str,
    text_col: str = "text",
    dim: int = 256,
    portable: bool = False,
) -> "DataFrame":
    """Hashing-trick document vectors (Weinberger et al. 2009): each
    token hashes to one of ``dim`` buckets with a +/-1 sign from an
    independent hash bit; per-doc bucket sums are L2-normalized.  The
    model-free "text -> vector" bridge into the similarity stack
    (ann_*_topk, pca_fit, kcenter_select, semantic_dedup) when no
    embedding column exists.

    Returns the SPARSE relational form (id, bucket, weight) — assemble
    a dense array with ``F.array`` + a pivot only when a consumer needs
    one; at corpus scale the sparse form is the honest representation
    (most buckets are empty for short documents).

    ``portable=True`` switches the bucket/sign hash from xxhash64 (JVM,
    production) to md5-prefix arithmetic that DuckDB reproduces
    digit-for-digit — the same portable-mode convention as
    minhash/simhash.

    Scale shape: one explode -> groupBy (id, bucket) with map-side
    partial aggregation; the L2 norm is a window over the per-doc
    bucket rows (at most min(tokens, dim) per doc), never the corpus.
    """
    from pyspark.sql import Window

    d = getattr(df, "df", df)
    toks = F.split(norm_text_col(F.col(text_col)), " ")
    tok = d.select(
        F.col(id_col).alias("_id"), F.explode(toks).alias("_w")
    ).filter(F.length("_w") > 0)
    if portable:
        h = F.conv(F.substring(F.md5(F.col("_w")), 1, 8), 16, 10).cast("bigint")
        sign_bit = F.conv(F.substring(F.md5(F.col("_w")), 9, 1), 16, 10).cast(
            "bigint"
        )
    else:
        h = F.abs(F.xxhash64(F.col("_w")))
        sign_bit = F.abs(F.xxhash64(F.col("_w"), F.lit(1)))
    sign = F.when(sign_bit % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    cells = (
        tok.select(
            "_id", (h % F.lit(int(dim))).cast("int").alias("bucket"), sign.alias("_s")
        )
        .groupBy("_id", "bucket")
        .agg(F.sum("_s").alias("_raw"))
        .filter(F.col("_raw") != 0.0)
    )
    w = Window.partitionBy("_id")
    return cells.select(
        F.col("_id").alias(id_col),
        "bucket",
        (F.col("_raw") / F.sqrt(F.sum(F.col("_raw") * F.col("_raw")).over(w))).alias(
            "weight"
        ),
    )


def token_divergence_by(
    df,
    group_col: str,
    text_col: str = "text",
) -> "DataFrame":
    """Per-group token-distribution drift vs the whole corpus: KL and
    Jensen-Shannon divergence between each group's unigram distribution P
    and the corpus distribution Q — the standard screen for a source/
    domain/date-slice whose language has shifted (templating, spam
    injection, scraper drift) before it contaminates a training mix.

    Returns (group, n_tokens, n_types, kl, js, coverage):

    - ``kl``       = KL(P || Q), nats. Finite without smoothing because
                     every group token is in the corpus (support P ⊆ Q).
    - ``js``       = Jensen-Shannon divergence (symmetric, bounded by
                     ln 2). Terms the group never uses contribute their
                     EXACT closed-form ``q·ln2`` mass via the identity
                     KL(Q||M)'s missing-term sum = ln2 · (1 − Σ_present q)
                     — no group × vocabulary densification is built.
    - ``coverage`` = Σ_present q: the corpus-probability mass the group's
                     vocabulary covers.

    Scale shape: ONE explode→groupBy(group, term) pass, map-side-combined
    to per-group vocabularies; the corpus distribution is the term-level
    rollup of that SAME relation (no second corpus scan); both joins are
    vocabulary-keyed equi-joins; the final rollup is one aggregation per
    group. Pure JVM Columns throughout."""
    d = getattr(df, "df", df)
    toks = d.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(norm_text_col(F.col(text_col)), " ")).alias("term"),
    ).filter(F.length("term") > 0)
    gterm = (
        toks.groupBy("grp", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        # (group, term)-vocabulary-sized and feeding THREE branches (corpus
        # rollup, group totals, the join) — materialize once so the corpus
        # explode truly runs a single pass (same pattern as zipf_stats;
        # session.cleanup reclaims the blocks)
        .localCheckpoint(eager=False)
    )
    # corpus rollup of the same relation: term totals + grand total
    cterm = gterm.groupBy("term").agg(F.sum("c").alias("ct"))
    n_corpus = cterm.agg(F.sum("ct").alias("nt"))
    gtot = gterm.groupBy("grp").agg(F.sum("c").alias("ng"))
    joined = (
        gterm.join(cterm, "term")
        .join(F.broadcast(n_corpus))
        .join(gtot, "grp")
    )
    p = F.col("c").cast("double") / F.col("ng")
    q = F.col("ct").cast("double") / F.col("nt")
    m = (p + q) / F.lit(2.0)
    return (
        joined.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(p * F.log(p / q)).alias("kl"),
            (
                F.lit(0.5) * F.sum(p * F.log(p / m))
                + F.lit(0.5)
                * (
                    F.sum(q * F.log(q / m))
                    + F.log(F.lit(2.0)) * (F.lit(1.0) - F.sum(q))
                )
            ).alias("js"),
            F.sum(q).alias("coverage"),
        )
    )


def bpe_word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Word-frequency relation for BPE training (Sennrich et al. 2016,
    arXiv:1508.07909 — classic BPE trains on the word-count dictionary,
    not the raw corpus): lowercase, whitespace-tokenize, keep [a-z]+
    words (ASCII restriction keeps cross-engine string ordering and
    regex '.'-semantics identical — documented contract), ONE
    map-side-combining groupBy. The result is vocabulary-sized — orders
    of magnitude smaller than the corpus — which is what makes the merge
    loop cheap at 100 TB: every iteration scans words, not documents."""
    return (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
        )
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_pairs_col(s: Column) -> Column:
    """Adjacent symbol pairs of a space-delimited symbol string, as
    'a b' strings (overlapping, the reference get_stats semantics)."""
    toks = F.split(F.trim(s), " ")
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
) -> DataFrame:
    """Byte-pair-encoding merge training as RELATIONAL algebra (Sennrich
    et al. 2016): learn ``n_merges`` merge rules from the corpus —
    symbols start as characters + '</w>', each round merges the
    most-frequent adjacent pair (count-weighted by word frequency, ties
    by lexicographically smallest pair).

    Returns (rank, lhs, rhs, merged, pair_count), rank 1-based in merge
    order — the merge table a tokenizer applies at encode time.

    Exactly replayable (hash-checked by the DuckDB twin): pair counts
    are INTEGERS (no float hazards anywhere), the argmax is
    (count DESC, pair ASC) over ASCII strings, and the merge apply is
    a literal string replace of ' a b ' with ' ab ' over the
    space-delimited symbol string — leftmost-first non-overlapping in
    both engines, which is precisely the reference implementation's
    greedy re-tokenization order.

    100 TB design: the corpus is touched ONCE (bpe_word_counts); every
    merge round runs over the vocabulary-sized word relation — one
    explode→groupBy pair count (map-side partial, slim 'a b' keys) +
    one ORDER-BY-LIMIT-1 argmax + one JVM string replace. Round state is
    localCheckpointed and superseded rounds are freed in-loop
    (kcenter's lifecycle); driver state is the merge list (k rows)."""
    from seafan_spark.session import unpersist_checkpoint

    if n_merges < 1:
        raise ValueError("bpe_train: n_merges must be >= 1")
    words = bpe_word_counts(df, text_col)
    cur = words.select(
        F.concat(
            F.lit(" "),
            F.regexp_replace(F.col("w"), "(.)", "$1 "),
            F.lit("</w> "),
        ).alias("s"),
        "cnt",
    )
    merges: list[tuple[int, str, str, str, int]] = []
    prev_ck = None
    # Checkpoint CADENCE, not every round: a merge adds ONE cheap literal
    # JVM string replace to the lineage, so replaying <= _CK_EVERY-1 of
    # them inside the next argmax costs far less than a write+read
    # materialization job per round (guide §5); the cadence still bounds
    # lineage depth for large n_merges. Round results are identical —
    # the replace chain is deterministic either way.
    _CK_EVERY = 8
    for rnd in range(1, n_merges + 1):
        if (rnd - 1) % _CK_EVERY == 0:
            cur = cur.localCheckpoint(eager=True)
            unpersist_checkpoint(prev_ck)
            prev_ck = cur
        top = (
            cur.select("cnt", F.explode(_bpe_pairs_col(F.col("s"))).alias("p"))
            .groupBy("p")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("p").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, n = top[0]["p"], int(top[0]["n"])
        a, b = pair.split(" ")
        merges.append((rnd, a, b, a + b, n))
        cur = cur.withColumn(
            "s",
            F.replace(
                F.col("s"), F.lit(f" {a} {b} "), F.lit(f" {a + b} ")
            ),
        )
    unpersist_checkpoint(prev_ck)
    return _local_frame(
        df.sparkSession,
        merges, "rank bigint, lhs string, rhs string, merged string, pair_count bigint"
    )


def bpe_apply_col(text: Column, merges: Sequence[tuple[str, str]]) -> Column:
    """Tokenize ``text`` with a learned merge table: PER WORD
    (whitespace-split — a space is a word boundary, never a symbol),
    start from characters + '</w>' and apply every merge IN RANK ORDER
    (the same literal ' a b ' → ' ab ' replace the trainer used —
    leftmost-first, identical semantics), returning the flattened token
    array for the whole string. The merge table is a plan literal
    (k replaces chained by Catalyst into one codegen'd expression per
    word) — no stored model, no UDF."""

    def encode_word(w: Column) -> Column:
        s = F.concat(
            F.lit(" "), F.regexp_replace(w, "(.)", "$1 "), F.lit("</w> ")
        )
        for a, b in merges:
            s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a + b} "))
        return F.split(F.trim(s), " ")

    words = F.filter(
        F.split(F.lower(text), r"\s+"), lambda w: w != F.lit("")
    )
    return F.flatten(F.transform(words, encode_word))
