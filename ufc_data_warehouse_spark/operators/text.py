"""Text-analysis operators for training-data curation.

All pure Column expressions (split/regexp/agg) — JVM-side, shuffle-free
per-document map work except the explicitly-noted aggregations. Outputs are
integer/string-typed wherever possible so cross-engine hash comparison is
exact (no float-accumulation-order sensitivity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import normalized_text, tokens

# Tiny English function-word list for the n-gram-free language heuristic.
EN_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "on"]


def token_stats(df: DataFrame) -> DataFrame:
    """Per-doc token counts: (id, n_tokens, n_unique_tokens, n_chars_norm).

    Token counting = whitespace split of the normalized text; a BPE-ish
    subword estimate is ``n_chars_norm / 4`` (byte-pair piece length ≈ 4
    chars for English) — kept as the raw char count so consumers pick
    their own divisor. Map-only: no shuffle.
    """
    toks = tokens(F.col("text"))
    return df.select(
        F.col("doc_id").alias("id"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.length(normalized_text(F.col("text"))).alias("n_chars_norm"),
    )


def stop_token_count_expr(text_col: F.Column) -> F.Column:
    """Count of English function words among the tokens (the signal
    behind the language heuristic). Exposed at expression level so
    composed pipelines can compute every signal in ONE scan."""
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    return F.size(
        F.filter(tokens(text_col), lambda t: F.array_contains(stop_arr, t))
    )


def lang_guess_expr(text_col: F.Column) -> F.Column:
    """``en`` when ≥5% of tokens are English function words, else
    ``und``. Integer cross-multiplication → engine-exact."""
    return F.when(
        stop_token_count_expr(text_col) * 20 >= F.size(tokens(text_col)),
        "en",
    ).otherwise("und")


def language_id(df: DataFrame) -> DataFrame:
    """Stopword-ratio language heuristic: (id, n_tokens, stop_tokens,
    lang_guess). ``en`` when ≥5%% of tokens are English function words,
    else ``und``. Integer arithmetic → engine-exact."""
    c = F.col("text")
    return df.select(
        F.col("doc_id").alias("id"),
        F.size(tokens(c)).alias("n_tokens"),
        stop_token_count_expr(c).alias("stop_tokens"),
        lang_guess_expr(c).alias("lang_guess"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split documents into overlapping character chunks:
    (id, chunk_idx, chunk_text, chunk_chars) — the context-window
    preparation step of a training pipeline.

    Pure Column logic (sequence + explode + substring): a narrow flatMap,
    no shuffle, no Python. Stride = chunk_chars - overlap; the final
    partial chunk is kept (min length 1).
    """
    stride = chunk_chars - overlap
    n = F.length(F.col("norm"))
    # starts: 0, stride, 2*stride, … while start < n
    n_chunks = F.when(n <= chunk_chars, F.lit(0)).otherwise(
        F.ceil((n - chunk_chars).cast("double") / stride).cast("int")
    )
    starts = F.sequence(F.lit(0), n_chunks * stride, F.lit(stride))
    chunk = F.substring(F.col("norm"), F.col("start") + 1, chunk_chars)
    return (
        df.select(
            F.col("doc_id").alias("id"),
            normalized_text(F.col("text")).alias("norm"),
        )
        .filter(F.length("norm") > 0)
        .select("id", "norm", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "id",
            "chunk_idx",
            chunk.alias("chunk_text"),
            F.length(chunk).alias("chunk_chars"),
        )
    )


# BPE-ish subword estimate: alnum runs count ~1 token per 4 chars
# (ceil), punctuation runs 1 per char — a deterministic, library-free
# approximation of byte-pair tokenizer behavior on English text.
_WORD_RE = "[a-z0-9]+"
_PUNCT_RE = r"[^a-z0-9 ]"

# Hard cap on the driver-side (df → idf) lookup in tfidf_top_terms.
# Distinct document-frequency values are O(hundreds) on real Zipfian
# corpora but O(n_docs) worst case; past the cap idf computes JVM-side.
IDF_MAP_CAP = 100_000


def bpe_token_estimate(df: DataFrame) -> DataFrame:
    """(id, word_runs, punct_chars, est_tokens): regex-based token-count
    estimate — whitespace counting's BPE-aware sibling (both JVM-side)."""
    norm = normalized_text(F.col("text"))
    words = F.regexp_extract_all(norm, F.lit(_WORD_RE), 0)
    word_runs = F.size(words)
    # ceil(len/4) summed over runs = sum((len+3) div 4)
    est_word_tokens = F.aggregate(
        F.transform(words, lambda w: (F.length(w) + 3).cast("long") / 4),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    punct = F.size(F.regexp_extract_all(norm, F.lit(_PUNCT_RE), 0))
    return df.select(
        F.col("doc_id").alias("id"),
        word_runs.alias("word_runs"),
        punct.cast("int").alias("punct_chars"),
        (est_word_tokens + punct).cast("long").alias("est_tokens"),
    )


def quality_component_exprs(
    text_col: F.Column
) -> tuple[F.Column, F.Column, F.Column]:
    """(len_ok, diversity_ok, alpha_ok) 0/1 signals — expression-level so
    composed pipelines score in one scan. All ratio tests use
    cross-multiplied integer comparisons (no float rounding)."""
    norm = normalized_text(text_col)
    toks = tokens(text_col)
    n_chars = F.length(norm)
    n_alpha = F.length(F.regexp_replace(norm, r"[^a-z]", ""))
    len_ok = F.when((n_chars >= 100) & (n_chars <= 20000), 1).otherwise(0)
    div_ok = F.when(
        F.size(F.array_distinct(toks)) * 5 >= F.size(toks), 1
    ).otherwise(0)
    alpha_ok = F.when(n_alpha * 5 >= n_chars * 3, 1).otherwise(0)
    return len_ok, div_ok, alpha_ok


def quality_expr(text_col: F.Column) -> F.Column:
    """Integer quality score 0-3 (sum of the component signals)."""
    len_ok, div_ok, alpha_ok = quality_component_exprs(text_col)
    return len_ok + div_ok + alpha_ok


def quality_score(df: DataFrame) -> DataFrame:
    """Integer quality score 0-3: (id, len_ok, diversity_ok, alpha_ok,
    quality). One point each for: length in [100, 20000] chars; unique
    token ratio ≥ 20%%; alphabetic-char ratio ≥ 60%%."""
    len_ok, div_ok, alpha_ok = quality_component_exprs(F.col("text"))
    return df.select(
        F.col("doc_id").alias("id"),
        len_ok.alias("len_ok"),
        div_ok.alias("diversity_ok"),
        alpha_ok.alias("alpha_ok"),
        (len_ok + div_ok + alpha_ok).alias("quality"),
    )


def vocab_top_terms(df: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary heavy-hitters: (term, n_occurrences, n_docs),
    top-k by occurrence — the vocabulary/IDF-statistics step of a
    training pipeline.

    The explode is a narrow flatMap; the term agg partial-aggregates
    map-side, so the exchange carries (term, partial-count) rows, not
    token instances — head terms are extreme-skew keys by construction
    (Zipf), and the partial agg collapses them BEFORE the shuffle, which
    is why this needs no salting. ``n_docs`` (document frequency) dedups
    (term, doc) pairs first — a second keyed exchange. The final top-k is
    TakeOrderedAndProject, never a full sort. Scale path when even the
    distinct-term set won't fit: per-partition count-min sketch, merged
    on the driver (bounded error, no term-keyed shuffle at all).
    """
    toks = tokens(F.col("text"))
    exploded = df.select(
        F.col("doc_id").alias("id"), F.explode(toks).alias("term")
    ).filter(F.col("term") != "")
    return (
        exploded.groupBy("term")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("term"))
        .limit(k)
    )


def ngram_repetition(df: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style repetition quality signal: per document, the fraction
    of word n-grams that are repeats (1 − distinct/total). High values
    flag boilerplate/looping text that a pretraining pipeline drops.

    Entirely JVM array expressions on the row — build the n-gram list with
    ``transform`` over an index ``sequence``, count via ``array_distinct``
    — so the operator is a ZERO-shuffle projection: no explode, no
    per-ngram rows, no aggregation. At 100 TB that's the difference
    between a map-only scan and materializing ~|tokens| rows per document.
    The ratio is one INT/INT division done in DOUBLE at the end, so it is
    bit-stable across engines.
    """
    words = F.split(F.col("text"), " ")
    k = F.size(words) - (n - 1)  # number of n-grams
    grams = F.when(k >= 1, F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, (i + j).cast("int")) for j in range(n)]
        ),
    )).otherwise(F.array().cast("array<string>"))
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return df.select(
        F.col("doc_id").alias("id"),
        total.alias("total_ngrams"),
        distinct.alias("distinct_ngrams"),
        F.when(total > 0, 1.0 - distinct.cast("double") / total.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("repetition_ratio"),
    )


# PII patterns shared by the Spark operator and the DuckDB oracle. Java
# regex and DuckDB (RE2) agree on this subset: char classes, \d, \b,
# bounded/unbounded repetition. Replacement order is fixed and the
# patterns are mutually non-overlapping (separator characters differ),
# so per-pattern counts on the ORIGINAL text equal counts-at-replace.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
]


def redact_pii(df: DataFrame) -> DataFrame:
    """PII scrubbing for training-data curation: (id, n_email, n_ipv4,
    n_phone, redacted) — emails, IPv4 addresses, and phone numbers
    replaced by typed placeholder tokens, with per-document match counts
    for audit/reporting.

    Pure ``regexp_extract_all`` / ``regexp_replace`` Column work: a
    ZERO-shuffle map-only projection that stays in whole-stage codegen —
    at 100 TB this runs at scan speed with no exchange at all. (The
    reference repo has no scrubbing step; this extends it the way the
    rest of this module does.)
    """
    out = [F.col("doc_id").alias("id")]
    red = F.col("text")
    for name, pat, token in PII_PATTERNS:
        out.append(
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
            ).alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, token)
    out.append(red.alias("redacted"))
    return df.select(*out)


def tfidf_top_terms(df: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-k TF-IDF terms: (id, term, tf, df, score), score
    = tf · ln(N/df), ranked per document with a total tie order
    (score DESC, term ASC).

    Plan: token explode → (doc,term) counts (map-side partial agg
    collapses the Zipf head pre-shuffle) → document frequencies → two
    BROADCAST joins back (df table ∝ vocabulary; the idf lookup ∝
    distinct df VALUES, i.e. tiny) → keyed window top-k (per-key sort
    only, no global sort).

    The idf values are computed on the DRIVER with ``math.log`` and
    broadcast as a (df → idf) lookup — deliberately: JVM ``Math.log``
    disagrees with glibc's ``log`` in the last ulp for ~4% of inputs
    (measured), which would make scores engine-dependent; CPython and
    the SQL oracle both use glibc, so driver-computed idf keeps the
    score bit-exact across engines. The collect is bounded: distinct
    document-frequency VALUES (≤ number of distinct counts, typically
    hundreds) — the same driver-side-scalar pattern as k-means
    centroids, not a data collect. Worst-case distinct-df cardinality is
    still O(n_docs), so the collect is HARD-CAPPED at ``IDF_MAP_CAP``
    values; above the cap the idf switches to the JVM expression
    ``ln(N/df)`` (identical to the last ulp for ~96% of inputs, ±1 ulp
    for the rest — see tests/test_properties.py parity bound).
    """
    import math

    spark = df.sparkSession
    toks = tokens(F.col("text"))
    exploded = df.select(
        F.col("doc_id").alias("id"), F.explode(toks).alias("term")
    ).filter(F.col("term") != "")
    tf = exploded.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = exploded.select("id").distinct().count()
    distinct_dfs = [
        r[0]
        for r in dfreq.select("df").distinct().limit(IDF_MAP_CAP + 1).collect()
    ]
    scored = tf.join(F.broadcast(dfreq), "term")
    if len(distinct_dfs) <= IDF_MAP_CAP:
        idf_map = spark.createDataFrame(
            [(d, math.log(n_docs / d)) for d in distinct_dfs],
            "df long, idf double",
        )
        scored = scored.join(F.broadcast(idf_map), "df")
    else:  # cap blown: stay fully distributed, JVM log
        scored = scored.withColumn(
            "idf", F.log(F.lit(float(n_docs)) / F.col("df").cast("double"))
        )
    scored = scored.select(
        "id",
        "term",
        "tf",
        "df",
        (F.col("tf").cast("double") * F.col("idf")).alias("score"),
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("id", "term", "tf", "df", "score", "rk")
    )


def nfc_normalized(df: DataFrame) -> DataFrame:
    """Unicode NFC normalization — the canonicalization step that must
    run BEFORE hashing/dedup (the same glyph can arrive composed or as
    base+combining marks; md5 of the two differs, so un-normalized
    corpora silently miss duplicates).

    No Spark SQL builtin exists for Unicode normalization, so this is the
    repo's one legitimate scalar Python UDF — Arrow-OPTIMIZED
    (``useArrow=True``): inputs/outputs move JVM↔Python as Arrow batches
    (not pickled rows), and ``unicodedata.normalize`` is C-level per
    value. Still slower than JVM expressions — keep it out of hot paths
    that don't need it. Returns (id, nfc_text, changed)."""
    import unicodedata

    from pyspark.sql.functions import udf

    nfc = udf(
        lambda s: None if s is None else unicodedata.normalize("NFC", s),
        "string",
        useArrow=True,
    )
    return df.select(
        F.col("doc_id").alias("id"),
        nfc(F.col("text")).alias("nfc_text"),
        (~nfc(F.col("text")).eqNullSafe(F.col("text")))
        .cast("int")
        .alias("changed"),
    )
