"""Beyond-parity queries: training-data operators, TPC-H-style analytics on
the native testdata tables, as-of joins, and sessionization.

Each entry pairs a Spark callable (spark, sf_dir) → DataFrame with a DuckDB
oracle statement over the same parquet views. Float-valued outputs avoid
accumulation-order sensitivity: sums are DECIMAL (exact, order-free) or
single-division ratios of integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import cache
from .operators import dedup, scale, simsearch, text
from .operators.scale import spread_single_split as _spread
from .registry import Query, query
from .session import apply_runtime_confs
from .sources.ingest import read_table as _read
from .sqlfrag import (
    _BANDS_SQL,
    _JACCARD_CORE_SQL,
    _MINHASH_SQL,
    _NORM_SQL,
    _SHINGLES_SQL,
    _TOKS_SQL,
)


# Shingles are the dominant subplan of the dedup family and are referenced
# up to 4× inside ONE query (signatures, sizes, both sides of the verify
# join) plus across three queries — Catalyst recomputes each reference, so
# persist once per (session, sf_dir). MEMORY_AND_DISK: spills, never OOMs.
# On a real 100 TB run this frame is the one you'd checkpoint to parquet.
def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        docs = _spread(_read(spark, sf_dir, "documents"))
        # r8 (VERDICT r7 item 2): the r7 _spread left the CACHED frame at
        # 32 tiny partitions, taxing every downstream read of the cache
        # with 32-task stages (dedup_minhash_lsh 0.54 -> 0.69 s). The
        # shingling itself still computes 32-way (the spread above);
        # REBALANCE then lets AQE size the cached partitions to the
        # advisory bytes — ~5 partitions at sf0.1, thousands at real
        # scale — so read-side task count tracks data, not core count
        # (§2.2 fewer/larger partitions; interleaved A/B: 32-way cache
        # 2.7-5.9 s vs compacted 2.0-3.1 s on the lsh pipeline).
        return dedup.word_shingles(docs, n=3).hint("rebalance").persist()

    return cache.memo(spark, ("shingles", sf_dir), build)


# LSH candidate pairs are consumed by two queries (the verify and the full
# cluster pipeline) and are tiny (bucket collisions only) — persist the
# frame, not just the plan, so the minhash re-derivation is paid once.
def _lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        sigs = dedup.minhash_signatures(_shingles(spark, sf_dir), num_hashes=16)
        return dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4).persist()

    return cache.memo(spark, ("lsh_candidates", sf_dir), build)


# ---------------------------------------------------------------------------
# dedup family (documents table)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return dedup.exact_duplicate_groups(docs).orderBy("text_hash")


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return dedup.fingerprint(docs).orderBy("id")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles(spark, sf_dir)
    cands = _lsh_candidates(spark, sf_dir)
    return dedup.jaccard_pairs(sh, min_jaccard=0.2, candidates=cands).orderBy(
        "id_a", "id_b"
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline: shingle → minhash → LSH → verify → connected
    components → canonical pick (what a 100 TB dedup job actually emits)."""
    docs = _read(spark, sf_dir, "documents")
    sh = _shingles(spark, sf_dir)
    cands = _lsh_candidates(spark, sf_dir)
    pairs = dedup.jaccard_pairs(sh, min_jaccard=0.2, candidates=cands)
    ids = docs.select(F.col("doc_id").alias("id"))
    return dedup.duplicate_clusters(pairs, ids).orderBy("id")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles(spark, sf_dir)
    return dedup.jaccard_pairs(sh, min_jaccard=0.2).orderBy("id_a", "id_b")


def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-Jaccard join via lossless prefix filtering — the
    deterministic complement to MinHash-LSH (operators/dedup.py::
    prefix_filter_pairs). The oracle verifies exhaustively; prefix
    filtering must reproduce it bit-for-bit."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.prefix_filter_pairs(docs, min_jaccard_pct=85).orderBy(
        "id_a", "id_b"
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r8 (VERDICT r7 item 2): NO _spread here — the 24-bit signature pass
    # is cheap enough that the extra exchange costs more than the
    # parallelism buys on the benched count() action (interleaved A/B at
    # sf0.1: 0.66-0.79 s without vs 1.0-1.3 s with). The heavy 48/64-bit
    # pair queries below keep their spread (their per-token md5 work
    # dwarfs one exchange; 10x tier evidence in OPTIMIZATION_r07.md).
    docs = _read(spark, sf_dir, "documents")
    return dedup.simhash(docs).orderBy("id")


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_read(spark, sf_dir, "documents"))
    return dedup.simhash_near_pairs(dedup.simhash(docs), max_hamming=6).orderBy(
        "id_a", "id_b"
    )


def q_dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production append-only scenario: docs with
    doc_id % 10 == 0 arrive as today's batch; the rest are the indexed
    corpus whose LSH band keys are already stored. The batch's band keys
    (broadcast) probe the corpus index by equi-join, candidates verify
    with exact shingle Jaccard, and only verified (batch, corpus) dup
    links are emitted — corpus data is never shuffled and batch cost is
    independent of corpus size (operators/dedup.py::
    incremental_lsh_candidates). Complements incremental_dedup_pairs
    (curation_queries.py), which exact-joins the batch's shingles against
    the corpus' shingle inverted index instead of a stored LSH index —
    exact recall at any threshold but shingle-join cost; this variant is
    the constant-work-per-batch path once a corpus index exists."""
    sh = _shingles(spark, sf_dir)
    sigs = dedup.minhash_signatures(sh, num_hashes=16)
    batch_sigs = sigs.filter(F.col("id") % 10 == 0)
    corpus_sigs = sigs.filter(F.col("id") % 10 != 0)
    cands = dedup.incremental_lsh_candidates(corpus_sigs, batch_sigs)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    shared = (
        cands.join(
            sh.select(F.col("id").alias("batch_id"), "shingle"), "batch_id"
        )
        .join(
            sh.select(F.col("id").alias("corpus_id"), "shingle"),
            ["corpus_id", "shingle"],
        )
        .groupBy("batch_id", "corpus_id")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("id").alias("batch_id"), F.col("n").alias("n_b")),
            "batch_id",
        )
        .join(
            sizes.select(F.col("id").alias("corpus_id"), F.col("n").alias("n_c")),
            "corpus_id",
        )
        .select(
            "batch_id",
            "corpus_id",
            "shared",
            (F.col("n_b") + F.col("n_c") - F.col("shared")).alias("union_size"),
            (
                F.col("shared").cast("double")
                / (F.col("n_b") + F.col("n_c") - F.col("shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
        .orderBy("batch_id", "corpus_id")
    )


def q_dedup_simhash48_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-width SimHash config: 48-bit signature, Hamming <= 3 →
    4 pigeonhole bands of 12 bits each, i.e. 4096-way band buckets. This
    is the selectivity regime the banded join is built for (the 24-bit
    demo config has 3-4-bit bands); wider signature + tighter threshold
    is exactly how a pretraining-dedup deployment runs SimHash."""
    docs = _spread(_read(spark, sf_dir, "documents"))
    sigs = dedup.simhash(docs, bits=48)
    return dedup.simhash_near_pairs(sigs, max_hamming=3, bits=48).orderBy(
        "id_a", "id_b"
    )


def q_dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document verbatim-span coverage (substring-dedup /
    memorization-risk audit): per doc, the fraction of tokens inside
    5-gram spans that also appear verbatim in at least one other
    document (operators/dedup.py::repeated_span_coverage)."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.repeated_span_coverage(docs, n=5).orderBy("id")


def q_dedup_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-width config simhash_near_pairs' docstring prescribes for
    production: 64-bit signature, Hamming <= 3 → 4 pigeonhole bands of 16
    bits — 65536-way band buckets, the selectivity that keeps Σbucket²
    sub-quadratic at corpus scale (benched at 10× in bench.py's scale
    tier). Signature bits 60–63 come from a second md5 word so every band
    carries real hash entropy."""
    docs = _spread(_read(spark, sf_dir, "documents"))
    sigs = dedup.simhash(docs, bits=64)
    return dedup.simhash_near_pairs(sigs, max_hamming=3, bits=64).orderBy(
        "id_a", "id_b"
    )


def _embedding_lsh_oracle(n_bands: int, band_bits: int, threshold: float) -> str:
    """DuckDB replay of _embedding_lsh_near_dup: hyperplane sign buckets →
    band-key collision candidates → exact cosine verify. Bit 63 of the
    packed bucket needs its two's-complement value spelled out (DuckDB
    raises on 1::BIGINT << 63); the band extraction's arithmetic shift is
    corrected by the mask, same as the Spark side."""
    n_planes = n_bands * band_bits
    mask = (1 << band_bits) - 1
    return f"""
WITH weights AS (
  SELECT p.plane, d.dim,
    ((('0x' || substr(md5(p.plane || ':' || d.dim), 1, 15))::BIGINT % 2000) - 1000) AS w
  FROM (SELECT unnest(generate_series(0, {n_planes - 1})) AS plane) p,
       (SELECT unnest(generate_series(0, 63)) AS dim) d
),
comps AS (
  -- exact int64 dot (components fixed-point 1e-6, weights integral 1e-3):
  -- sign cannot depend on accumulation order, matching the Spark side
  SELECT e.vec_id AS id, w.plane,
    sum(floor(e.x::DOUBLE * 1000000)::BIGINT * w.w) AS dot
  FROM (SELECT vec_id, embedding[d.dim + 1]::DOUBLE AS x, d.dim
        FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS dim) d) e
  JOIN weights w ON e.dim = w.dim
  GROUP BY e.vec_id, w.plane
),
buckets AS (
  SELECT id, sum(CASE WHEN dot > 0 THEN
      (CASE WHEN plane = 63 THEN (-9223372036854775807::BIGINT - 1)
            ELSE (1::BIGINT << plane::INT) END)
    ELSE 0 END)::BIGINT AS bucket
  FROM comps GROUP BY id
),
bands AS (
  SELECT bu.id, bd.band, (bu.bucket >> (bd.band * {band_bits})) & {mask} AS key
  FROM buckets bu, (SELECT unnest(generate_series(0, {n_bands - 1})) AS band) bd
),
cands AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.id < r.id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT c.id_a, c.id_b
FROM cands c
JOIN e a ON c.id_a = a.vec_id
JOIN e b ON c.id_b = b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= {threshold}
ORDER BY id_a, id_b"""


def _simhash_sql(bits: int) -> str:
    # bits > 60 draw from a second md5 over tok || '#2', mirroring
    # operators/dedup.py::simhash exactly
    return f"""
doc_toks AS (
  SELECT doc_id AS id, {_TOKS_SQL} AS toks FROM documents
),
tok_hash AS (
  SELECT id, ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS h,
         ('0x' || substr(md5(t.tok || '#2'), 1, 15))::BIGINT AS h2
  FROM doc_toks, unnest(toks) AS t(tok)
),
bit_deltas AS (
  SELECT id, b.bit,
    CASE WHEN (CASE WHEN b.bit < 60 THEN (h >> b.bit)
                    ELSE (h2 >> (b.bit - 60)) END) & 1 = 1
         THEN 1 ELSE -1 END AS delta
  FROM tok_hash, unnest(generate_series(0, {bits - 1})) AS b(bit)
),
bit_sums AS (SELECT id, bit, sum(delta) AS s FROM bit_deltas GROUP BY id, bit),
simhashes AS (
  -- bit 63 is the sign bit: DuckDB raises on 1::BIGINT << 63, so emit the
  -- two's-complement value directly (Spark's shiftleft(1L, 63) == MIN_LONG)
  SELECT id, sum(CASE WHEN s > 0 THEN
      (CASE WHEN bit = 63 THEN (-9223372036854775807::BIGINT - 1)
            ELSE (1::BIGINT << bit) END)
    ELSE 0 END)::BIGINT AS simhash
  FROM bit_sums GROUP BY id
)"""


_SIMHASH_SQL = _simhash_sql(dedup.SIMHASH_BITS)

# ---------------------------------------------------------------------------
# text analysis family
# ---------------------------------------------------------------------------


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(_read(spark, sf_dir, "documents")).orderBy("id")


def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(_read(spark, sf_dir, "documents")).orderBy("id")


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_read(spark, sf_dir, "documents")).orderBy("id")


def q_text_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal as a zero-shuffle map-only projection."""
    return text.ngram_repetition(_read(spark, sf_dir, "documents"), n=2).orderBy(
        "id"
    )


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents(
        _read(spark, sf_dir, "documents"), chunk_chars=200, overlap=50
    ).orderBy("id", "chunk_idx")


def q_text_bpe_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bpe_token_estimate(_read(spark, sf_dir, "documents")).orderBy("id")


def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.vocab_top_terms(_read(spark, sf_dir, "documents"), k=100)


_STOPLIST_SQL = "[" + ", ".join(f"'{s}'" for s in text.EN_STOPWORDS) + "]"

# ---------------------------------------------------------------------------
# similarity search family (embeddings table)
# ---------------------------------------------------------------------------


def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization (4× memory/shuffle reduction for ANN at
    scale); codes verified bit-exact via per-vector checksum — floor-based
    mapping is reproducible in any SQL engine."""
    emb = _read(spark, sf_dir, "embeddings")
    q = simsearch.quantize_int8(emb)
    return q.select(
        "vec_id",
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda a, c: a + c
        ).alias("code_sum"),
        F.element_at("codes", 1).alias("first_code"),
    ).orderBy("vec_id")


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(_read(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return (
        simsearch.cosine_topk(emb, queries, k=10)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def q_ann_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance: base top-k over the historical
    corpus (vec_id %5 != 0), then the %5 == 0 batch lands and updates it
    WITHOUT rescoring history. The oracle is the full recompute over the
    whole corpus — incremental == recompute is the maintenance
    invariant."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    base = simsearch.cosine_topk(old, queries, k=10)
    out = simsearch.incremental_topk_update(base, new, queries, k=10)
    return out.select("query_id", "neighbor_id", "rank").orderBy(
        "query_id", "rank"
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return simsearch.ivf_topk(emb, queries, k=10, n_probe=2).orderBy(
        "query_id", "rank"
    )


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return simsearch.lsh_bucket_signatures(emb, num_planes=8).orderBy("id")


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return simsearch.embedding_near_dup(emb, threshold=0.4).orderBy("id_a", "id_b")


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB embedding-dedup path: banded random-hyperplane LSH →
    candidate pairs → exact cosine verify restricted to candidates.

    16 sign-bit planes split into 4 bands × 4 bits; a pair is a candidate
    if ANY band key collides (standard LSH banding — recall rises with
    band count, candidate volume stays Σ|band-bucket|², never n²). The
    verify is exact cosine over candidates only, so precision is 1.

    Plan shape (audit-enforced, not allowlisted): band self-join and both
    vector-attach joins are hash joins; no BroadcastNestedLoopJoin.
    """
    return _embedding_lsh_near_dup(
        spark, sf_dir, n_bands=4, band_bits=4, threshold=0.4
    )


def _embedding_lsh_near_dup(
    spark: SparkSession,
    sf_dir: str,
    n_bands: int,
    band_bits: int,
    threshold: float,
) -> DataFrame:
    emb = _spread(_read(spark, sf_dir, "embeddings"))
    # arithmetic shift + mask extracts the band bits correctly even when
    # plane 63 set the sign bit (the fill bits are masked away)
    bands = _embedding_band_keys(emb, n_bands, band_bits)
    left = bands.select(F.col("id").alias("id_a"), "band", "key")
    right = bands.select(F.col("id").alias("id_b"), "band", "key")
    candidates = left.join(right, ["band", "key"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    return simsearch.embedding_near_dup(
        emb, threshold=threshold, candidates=candidates
    ).orderBy("id_a", "id_b")


def _embedding_band_keys(emb: DataFrame, n_bands: int, band_bits: int) -> DataFrame:
    """(id, band, key) banded hyperplane sign keys — the stored index
    row format for the append-only embedding-dedup scenario."""
    buckets = simsearch.lsh_bucket_signatures(emb, num_planes=n_bands * band_bits)
    keys = F.array(
        *[
            F.shiftright(F.col("bucket"), b * band_bits).bitwiseAND(
                F.lit((1 << band_bits) - 1)
            )
            for b in range(n_bands)
        ]
    )
    return buckets.select("id", F.posexplode(keys).alias("band", "key"))


def q_dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding dedup — the production append-only scenario,
    the embedding-space sibling of ``dedup_incremental_batch``: vectors
    with vec_id % 10 == 0 arrive as today's batch; the rest are the
    indexed corpus whose banded hyperplane keys are already stored. The
    batch's band keys are BROADCAST (a daily increment is MBs even when
    the corpus index is TBs), the corpus index streams map-side through
    the equi-join and is never shuffled, and only collision candidates
    pay the exact-cosine verify — batch cost independent of corpus size.
    Hyperplanes derive deterministically from (plane, dim), so index rows
    written yesterday and probe keys computed today agree by construction.
    """
    emb = _read(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    n_bands, band_bits = 4, 4
    cands = (
        _embedding_band_keys(corpus, n_bands, band_bits)
        .select(F.col("id").alias("corpus_id"), "band", "key")
        .join(
            F.broadcast(
                _embedding_band_keys(batch, n_bands, band_bits).select(
                    F.col("id").alias("batch_id"), "band", "key"
                )
            ),
            ["band", "key"],
        )
        .select("batch_id", "corpus_id")
        .distinct()
    )
    bv = batch.select(
        F.col("vec_id").alias("batch_id"),
        F.col("embedding").alias("vb"),
        simsearch._norm(F.col("embedding")).alias("nb"),
    )
    cv = corpus.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("vc"),
        simsearch._norm(F.col("embedding")).alias("nc"),
    )
    cos = simsearch._dot(F.col("vb"), F.col("vc")) / (F.col("nb") * F.col("nc"))
    return (
        cands.join(bv, "batch_id")
        .join(cv, "corpus_id")
        .select("batch_id", "corpus_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
        .select("batch_id", "corpus_id")
        .orderBy("batch_id", "corpus_id")
    )


def q_ann_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the banded-LSH dedup against the exhaustive
    ground truth — the audit that justifies (n_bands, band_bits) before
    trusting the candidate restriction at scale: one row (n_true,
    n_found, recall_bps). Found pairs are a SUBSET of true pairs by
    construction (the verify is exact), so precision is always 1 and
    only recall needs measuring. Composes the exhaustive baseline, so
    this is a small-n audit — at production scale recall is estimated on
    a sampled slice instead.
    """
    emb = _read(spark, sf_dir, "embeddings")
    true_pairs = simsearch.embedding_near_dup(emb, threshold=0.4)
    found = _embedding_lsh_near_dup(
        spark, sf_dir, n_bands=4, band_bits=4, threshold=0.4
    )
    n_true = true_pairs.agg(F.count(F.lit(1)).alias("n_true"))
    n_found = found.agg(F.count(F.lit(1)).alias("n_found"))
    return n_true.crossJoin(n_found).select(
        "n_true",
        "n_found",
        F.expr(
            "CASE WHEN n_true = 0 THEN 10000 "
            "ELSE CAST(n_found * 10000 DIV n_true AS BIGINT) END"
        ).alias("recall_bps"),
    )


def q_dedup_embedding_lsh90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-selectivity embedding dedup: 64 hyperplanes in 4
    bands × 16 bits (65536-way band buckets), verify threshold 0.9 — the
    regime a real near-dup pass runs at (0.9+ cosine ≈ same document
    re-encoded; 0.4 is topical similarity, not duplication). Cost profile
    at scale: signature computation is linear in corpus size and
    dominates; candidates ≈ 4·n²/65536 stay sub-quadratic until n
    approaches the bucket count, at which point add planes per band —
    bucket count must grow with the corpus (benched at 10× in bench.py's
    scale tier)."""
    return _embedding_lsh_near_dup(
        spark, sf_dir, n_bands=4, band_bits=16, threshold=0.9
    )


# ---------------------------------------------------------------------------
# TPC-H-style analytics on the native tables (DECIMAL-exact aggregation)
# ---------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: pricing summary. DECIMAL sums — exact and
    accumulation-order-independent, so hash-safe across engines."""
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                .cast("decimal(38,8)")
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped-order revenue (join + agg + top-k)."""
    cust = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("decimal(38,8)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation through a 5-way star join; small
    dims broadcast."""
    region = _read(spark, sf_dir, "region")
    nation = _read(spark, sf_dir, "nation")
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("decimal(38,8)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(sup.withColumnRenamed("s_nationkey", "sn"), li["l_suppkey"] == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("sn"))
        .join(F.broadcast(nation), F.col("sn") == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def q_tpch_q4_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join. The semi join never
    materializes matched lineitems (first-match short-circuit), so the
    probe side streams at full scan speed — at 100 TB this is a shuffled
    hash semi-join on l_orderkey with AQE sizing the build side."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > orders["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q6_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: selective scan-aggregate. All three predicates and
    the 4-column projection reach the parquet scan (PushedFilters +
    ReadSchema — asserted in tests/test_plans.py), which is the whole
    game at 100 TB: the scan reads a fraction of the data and the agg is
    a two-phase partial/final with no other shuffle."""
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    # the year predicate is written as a shipdate RANGE, not year()=1997:
    # a range lands in PushedFilters (row-group stats skip); year() would
    # stay a post-scan DataFilter and read every row group
    return li.filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 25)
    ).agg(
        F.sum((dec("l_extendedprice") * dec("l_discount")).cast("decimal(38,8)"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


def q_tpch_q17_smallqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated AVG subquery → per-group agg + re-join.
    The per-part average is a partial-aggregated shuffle on l_partkey and
    the re-join reuses that same key (co-partitioned: AQE sees both sides
    hashed on l_partkey, no extra exchange); `part` is broadcast.

    Float note: l_quantity is integer-valued, so sum/avg are exact in
    double on both engines — the 0.2*avg threshold is bit-identical."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_part = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    small = li.join(per_part, "l_partkey").filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return (
        small.join(F.broadcast(part), small["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("small_qty_revenue"),
        )
        .orderBy("p_brand")
    )


def q_tpch_q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional (CASE-sum) aggregation — counts
    of urgent vs non-urgent orders per lineitem return flag. One shuffled
    join on orderkey, one agg on a 3-value key."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — ratio of two exact decimal
    sums over a broadcast part join, computed as ONE division (order-free,
    hash-safe)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_type")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("decimal(38,8)")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type").like("PROMO%"), revenue).otherwise(
                    F.lit(0).cast("decimal(38,8)")
                )
            ).cast("double")
            / F.sum(revenue).cast("double")
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n_items"),
    )


def q_tpch_q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a join whose predicate is an OR of conjunct
    bundles (brand × size × quantity bands). The equi-key on partkey
    carries the (broadcast) hash join; the disjunction evaluates as a
    post-join residual — Catalyst's standard equi+residual split, so the
    OR never degrades the join into a nested loop."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 15))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 30))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(10, 40))
            & (F.col("l_quantity").between(20, 50))
        )
    )
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("decimal(38,8)")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .filter(cond)
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution. The filter on
    orders belongs to the LEFT JOIN's ON clause (not a WHERE — that would
    drop order-less customers), then two stacked aggregations: per-customer
    count, then a histogram of those counts. The second agg's input is one
    row per customer, so its shuffle is tiny regardless of fact size."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS against the SAME fact table.
    A supplier "kept an order waiting" if it shipped >90 days after the
    order date on a finished order, another supplier shipped in that order
    (left-semi), and no OTHER supplier was also late (left-anti). The late
    set is computed once and reused for both probe and anti build; all
    three joins hash on l_orderkey, so AQE coalesces them onto one
    exchange of each side — no O(n²) correlated re-execution.

    Reference analog: the reign-interval EXISTS logic in
    `ufc/models/analytics/title_reigns.sql:272-286` is the same
    correlated-predicate family; this is its decorrelated plan shape."""
    sup = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = (
        _read(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    others = li.alias("l2")
    other_late = late.alias("l3")
    waiting = (
        l1.join(
            others,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(sup), F.col("l1.l_suppkey") == sup["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
    )


def q_tpch_q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: substring bucketing + scalar-aggregate threshold +
    NOT EXISTS. "Country code" is the last 2 digits of c_name; customers
    above the positive-balance average in selected codes with no URGENT
    orders. The 1-row stats frame is broadcast; above-average is tested as
    ``bal * n > sum`` in exact decimal (order-free, hash-safe); the anti
    join builds on a filtered 1-column projection of orders."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    codes = ["01", "13", "17", "18", "23", "29", "30", "31"]
    bal = F.col("c_acctbal").cast("decimal(18,4)")
    coded = cust.withColumn("cntrycode", F.right(F.col("c_name"), F.lit(2))).filter(
        F.col("cntrycode").isin(codes)
    )
    stats = coded.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal).alias("tot_bal"), F.count("*").alias("n_pos")
    )
    return (
        coded.crossJoin(F.broadcast(stats))
        .filter(bal * F.col("n_pos") > F.col("tot_bal"))
        .join(orders, coded["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax against an aggregated view — supplier(s)
    whose 1997 revenue equals the maximum. The per-supplier agg is computed
    once; the global max is a 1-row frame broadcast back against it (scalar
    subquery shape), NOT a rank-window over the whole agg — a global
    window would funnel every supplier row through one partition."""
    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("decimal(38,8)")
    per_sup = (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(revenue).alias("total_revenue"))
    )
    best = per_sup.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        per_sup.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered keys semi-joined back to the facts.
    The qualifying-order set (sum(qty) > threshold) is the build side of a
    left-semi against lineitem, then the detail agg re-groups on the same
    orderkey — AQE reuses the orderkey hashing across the semi and the
    final agg, and the customer dim is broadcast."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"], "left_semi")
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def q_tpch_q20_nested_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: a CHAIN of semi-joins — suppliers who shipped more
    than 50 units of some part in 1997, restricted to a nation set. Both
    semi levels build on pre-aggregated/filtered small sides; the nation
    restriction is a broadcast semi."""
    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation").filter(
        F.col("n_regionkey") == 0
    ).select("n_nationkey")
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        sup.join(heavy, sup["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .join(
            F.broadcast(nation),
            sup["s_nationkey"] == nation["n_nationkey"],
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q_antijoin_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join, plus a scalar aggregate subquery.

    Above-average balance is tested as ``acctbal * n > sum`` (exact
    decimal arithmetic) instead of ``acctbal > avg`` — avg of doubles is
    accumulation-order sensitive and could flip boundary rows between
    engines. The 1-row stats frame is broadcast (scalar subquery shape);
    the anti join builds on the filtered recent-orders side."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast("decimal(18,4)")
    stats = cust.agg(
        F.sum(bal).alias("tot_bal"), F.count("*").alias("n_cust")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01"))
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(stats))
        .filter(bal * F.col("n_cust") > F.col("tot_bal"))
        .join(recent, F.col("c_custkey") == recent["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(bal).cast("double").alias("total_balance"),
        )
        .orderBy("c_nationkey")
    )


def q_tpch_q7_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: role-playing dimension — nation joined TWICE under
    different roles (supplier's vs customer's) with an asymmetric pair
    filter, plus a year breakdown. Both nation legs broadcast; the only
    real shuffles are lineitem⋈orders on orderkey and the final 3-key
    agg."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_nation = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("decimal(38,8)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_cube_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all 4 subtotal combinations of priority × status)
    with grouping_id — like ROLLUP, one Expand + a single shuffled agg,
    never a per-level re-scan."""
    orders = _read(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,4)")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n_orders"),
            F.sum(price).cast("double").alias("total_price"),
        )
        .orderBy(
            F.asc("gid"),
            F.asc_nulls_last("o_orderpriority"),
            F.asc_nulls_last("o_orderstatus"),
        )
    )


def q_topn_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group — the most common analytics shape there is: each
    customer's 3 largest orders via row_number over a keyed window. One
    shuffle on custkey; the sort is per-partition-key, never global.
    Tiebreak on orderkey keeps it deterministic across engines."""
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rk")
    )


def q_rollup_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (priority → status hierarchy) with grouping_id.
    Spark computes all rollup levels in one shuffle (Expand + single hash
    agg) — no per-level re-scan."""
    orders = _read(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,4)")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n_orders"),
            F.sum(price).cast("double").alias("total_price"),
        )
        .orderBy(
            F.asc("gid"),
            F.asc_nulls_last("o_orderpriority"),
            F.asc_nulls_last("o_orderstatus"),
        )
    )


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: the events `props` JSON string is
    parsed with a typed schema (`from_json` — vectorized Jackson parse,
    JVM-side; the schema-on-read path that scales, vs per-row
    get_json_object re-parsing per extracted field) and aggregated."""
    from pyspark.sql.types import LongType, StructField, StructType

    ev = _read(spark, sf_dir, "events")
    props_schema = StructType([StructField("k", LongType())])
    parsed = ev.withColumn("k", F.from_json("props", props_schema)["k"])
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_set_ops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (absent from the reference — SURVEY §2.7): the
    early-customer cohort (ordered in the first year) intersected with and
    subtracted from the late cohort. Both compile to aggregate-based
    set-op plans (no sort), shuffling only distinct keys."""
    orders = _read(spark, sf_dir, "orders")
    early = orders.filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1996-01-01"))
    ).select("o_custkey")
    late = orders.filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01"))
    ).select("o_custkey")
    loyal = early.intersect(late).withColumn("cohort", F.lit("retained"))
    # exceptAll is MULTISET difference: applied to raw orders it keeps
    # count-1 copies of keys present in both cohorts — dedup first so the
    # semantics are EXCEPT DISTINCT, matching the SQL oracle
    churned = early.distinct().exceptAll(late.distinct()).withColumn(
        "cohort", F.lit("churned")
    )
    return (
        loyal.unionByName(churned)
        .select("cohort", "o_custkey")
        .orderBy("cohort", "o_custkey")
    )


def q_date_spine_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled time series: a generated month spine left-joined to
    monthly order totals, so empty months appear as explicit zeros.

    The spine is `sequence()` + `explode` — a generated table, not a scan;
    at any scale it is tiny (one row per month) and broadcast to the join.
    Densification is what makes downstream window/trend math correct when
    the fact table has silent gaps."""
    orders = _read(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 month"))
        ).alias("month_start")
    )
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month_start")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("revenue"),
    )
    return (
        spine.join(monthly, "month_start", "left")
        .select(
            "month_start",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
        .orderBy("month_start")
    )


def q_trailing_30d_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-customer trailing-30-day order total at each
    order date. The frame is over the epoch-day VALUE (rangeBetween), not
    row offsets — the batch twin of a 30-day sliding stream window. One
    shuffle on the customer key."""
    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")).alias(
            "epoch_day"
        ),
        F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("epoch_day")
        .rangeBetween(-29, Window.currentRow)
    )
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.sum("price").over(w).cast("double").alias("trailing_30d_total"),
            F.count(F.lit(1)).over(w).alias("trailing_30d_orders"),
        )
        .orderBy("o_orderkey")
    )


def q_dq_orders_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality suite on orders (dbt-test analog): not_null +
    accepted_values fused into one scan, unique via one groupBy, FK via a
    broadcast anti join — each emitting (check_name, n_violations)."""
    from .validation import run_checks

    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    return run_checks(
        orders,
        not_null=["o_orderkey", "o_custkey", "o_orderdate"],
        accepted={"o_orderstatus": ["F", "O", "P"]},
        unique=[["o_orderkey"]],
        fks=[("o_custkey", customer, "c_custkey", "customer")],
    )


def q_pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts + decimal totals spread across the 3 status
    columns. The value list is EXPLICIT (["F","O","P"]) — with an implicit
    list Spark runs an extra distinct-collect job and the output schema
    depends on the data, which breaks plan caching and schema contracts at
    scale."""
    orders = _read(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,4)")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"F": "n_f", "O": "n_o", "P": "n_p"})
        .join(
            orders.groupBy("o_orderpriority").agg(
                F.sum(price).cast("double").alias("total_price")
            ),
            "o_orderpriority",
        )
        .orderBy("o_orderpriority")
    )


def q_unpivot_lineitem_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the per-lineitem charge components (price, discount,
    tax) stacked into (component, amount) rows — `DataFrame.unpivot` is a
    zero-shuffle Expand, then one agg shuffle on the tiny key."""
    li = _read(spark, sf_dir, "lineitem")
    long = li.select(
        "l_orderkey",
        F.col("l_extendedprice").cast("decimal(18,4)").alias("price"),
        F.col("l_discount").cast("decimal(18,4)").alias("discount"),
        F.col("l_tax").cast("decimal(18,4)").alias("tax"),
    ).unpivot(
        ids=["l_orderkey"],
        values=["price", "discount", "tax"],
        variableColumnName="component",
        valueColumnName="amount",
    )
    return (
        long.groupBy("component")
        .agg(
            F.count("*").alias("n"),
            F.sum("amount").cast("double").alias("total_amount"),
        )
        .orderBy("component")
    )


def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column: L2 norm via
    F.aggregate (fold), positive-component count via F.filter, all
    JVM-side — no Python UDF, stays inside whole-stage codegen.

    Cross-engine float discipline: the per-row norm is rounded to 6dp and
    cast to decimal BEFORE aggregating, so the group sums are exact
    (order-free) and the averages are single integer-ratio divisions —
    a plain avg-of-doubles would be accumulation-order sensitive."""
    emb = _read(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norm6 = F.round(F.sqrt(sq_sum), 6).cast("decimal(18,6)")
    n_pos = F.size(F.filter(F.col("embedding"), lambda x: x > 0))
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            (F.sum(norm6).cast("double") / F.count("*")).alias("avg_l2_norm"),
            (F.sum(n_pos.cast("long")).cast("double") / F.count("*")).alias(
                "avg_positive_dims"
            ),
        )
        .orderBy("label")
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (Spark `percentile` ≡
    DuckDB `quantile_cont`, bit-identical: both sort the group and compute
    the same (1-f)·a + f·b interpolation).

    Scale note: exact percentile buffers each group's values — fine for
    bounded groups, NOT for 100 TB global quantiles. The scale path is
    `approx_percentile` (t-digest sketch, mergeable partial aggregation,
    bounded memory); tests/test_scale_ops.py asserts it lands within its
    accuracy bound of this exact result."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr(
                "percentile(value, array(0.25D, 0.5D, 0.9D, 0.99D))"
            ).alias("p"),
            F.count("*").alias("n"),
        )
        .select(
            "event_type",
            F.col("p")[0].alias("p25"),
            F.col("p")[1].alias("p50"),
            F.col("p")[2].alias("p90"),
            F.col("p")[3].alias("p99"),
            "n",
        )
        .orderBy("event_type")
    )


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window distribution functions (ntile / percent_rank / cume_dist /
    first_value / nth_value) per event_type. The (value, event_id) order
    key is a total order, so rank-family outputs are deterministic; the
    ratio functions are exact integer divisions — bit-identical across
    engines.

    De-weakened r5 (VERDICT r4 task 3): event_type has ~5 distinct
    values, so the keyed window was one ~20 TB sort task per type at the
    100 TB scale (per-row rank outputs — no WindowGroupLimit rescue).
    Now the partitioned two-phase rank (``global_order_rank(
    partition_cols=...)``) supplies (rn, n) per type with
    hashpartitioning(type, bucket) parallelism, and the whole family is
    closed-form: the (value, event_id) order key is UNIQUE, so
    percent_rank = (rn-1)/(n-1), cume_dist = rn/n, ntile is
    exact_ntile_expr. first_value/nth_value(2) over the default
    running frame are the partition's first two rows for every row with
    rn ≥ their position — a 2-rows-per-key frame (rn <= 2) pivoted and
    broadcast back, NULL while the frame hasn't reached row 2. The
    stitch join is eqNullSafe (r5 ADVICE): groupBy puts NULL event_type
    in one group exactly like Window.partitionBy, and a plain equi-join
    would silently drop those rows if NULL keys ever appear."""
    from ufc_data_warehouse_spark.operators.scale import (
        exact_ntile_expr,
        global_order_rank,
    )

    ev = _read(spark, sf_dir, "events").select("event_id", "event_type", "value")
    g = global_order_rank(
        ev, "value", ["event_id"], partition_cols=["event_type"]
    )
    heads = (
        g.filter(F.col("rn") <= 2)
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("event_id"))).alias(
                "first_id"
            ),
            F.min(F.when(F.col("rn") == 2, F.col("event_id"))).alias(
                "_second_id"
            ),
        )
        .withColumnRenamed("event_type", "_et")
    )
    n1 = F.col("n_total") - F.lit(1)
    return (
        g.join(F.broadcast(heads), g["event_type"].eqNullSafe(heads["_et"]))
        .select(
            "event_id",
            "event_type",
            exact_ntile_expr(4).alias("quartile"),
            F.when(n1 > 0, (F.col("rn") - F.lit(1)) / n1)
            .otherwise(F.lit(0.0))
            .alias("pr"),
            (F.col("rn") / F.col("n_total")).alias("cd"),
            "first_id",
            # nth_value's default frame ends at the CURRENT row: row 1's
            # frame hasn't seen row 2 yet -> NULL, like the window
            F.when(F.col("rn") >= 2, F.col("_second_id")).alias("second_id"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# training-data preparation (documents table): split / pack / shuffle
# ---------------------------------------------------------------------------


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SEED = 42


def _split_case_sql(id_expr: str) -> str:
    """DuckDB CASE ladder mirroring training.split_column bit-for-bit."""
    from .operators.training import split_bounds_hex

    bounds = split_bounds_hex(_SPLIT_WEIGHTS)
    bucket = f"substr(md5('{_SPLIT_SEED}:' || {id_expr}::VARCHAR), 1, 4)"
    arms = "".join(
        f" WHEN {bucket} < '{ub}' THEN '{name}'" for name, ub in bounds[:-1]
    )
    return f"CASE{arms} ELSE '{bounds[-1][0]}' END"


def q_split_stratified_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (hash-bucket, shuffle-free
    projection), verified by per-(lang, split) counts."""
    from .operators import training

    docs = _read(spark, sf_dir, "documents")
    return (
        training.assign_split(docs, "doc_id", _SPLIT_WEIGHTS, seed=_SPLIT_SEED)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang", "split")
    )


_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_SEED = 7
_MIX_DEFAULT = 0.05


def q_mixture_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing: per-source keep rates applied as a
    stateless hash filter (no shuffle, reproducible across cluster sizes —
    unlike df.sample). Verified by per-source kept-count AND the exact sum
    of kept ids, so the oracle checks WHICH rows survived, not just how
    many."""
    from .operators import training

    docs = _read(spark, sf_dir, "documents")
    kept = training.mixture_sample(
        docs, "doc_id", "source", _MIX_RATES, seed=_MIX_SEED,
        default_rate=_MIX_DEFAULT,
    )
    return (
        kept.groupBy("source")
        .agg(F.count("*").alias("n_kept"), F.sum("doc_id").alias("sum_ids"))
        .orderBy("source")
    )


def q_pack_token_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: per-language sequential bins of ~4096 tokens
    (cheap n_chars/4 token proxy). One shuffle, on lang."""
    from .operators import training

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        "lang",
        (F.floor(F.col("n_chars") / 4) + 1).cast("bigint").alias("tokens"),
    )
    return training.token_bins(docs, "id", "tokens", budget=4096, group_col="lang").orderBy(
        "id"
    )


def q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle of the corpus (seeded-hash order)."""
    from .operators import training

    docs = _read(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    return (
        training.shuffled(docs, "id", seed=_SPLIT_SEED)
        .select("id", F.col("pos").cast("bigint").alias("pos"))
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# as-of join + sessionization (events table)
# ---------------------------------------------------------------------------


def q_asof_orders_before_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's most recent order at
    event time (``o_orderdate <= ts``, ties broken by highest order key).

    Union-merge plan, the shape that survives 100 TB: interleave both
    tables sorted by (user, time) and carry the latest order forward with
    ``last(ignorenulls)`` over one prefix window. ONE shuffle of
    events+orders on user_id and no intermediate pair blow-up — an
    equi-join + per-event rank would shuffle both sides AND materialize
    |event × qualifying orders| rows before discarding all but one, then
    reshuffle on event_id for the pick."""
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    o_rows = orders.filter(F.col("o_orderdate").isNotNull()).select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("is_order"),
        "o_orderkey",
        "o_orderdate",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    e_rows = ev.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("is_order"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
        "event_id",
        "ts",
    )
    # orders sort before events at equal t (inclusive <=); equal-date orders
    # ascending by key so the prefix-last is the highest-key pick
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("t"), F.desc("is_order"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = o_rows.unionByName(e_rows).select(
        "event_id",
        "user_id",
        "ts",
        "is_order",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
        F.last("o_orderdate", ignorenulls=True).over(w).alias("asof_orderdate"),
    )
    return (
        merged.filter((F.col("is_order") == 0) & F.col("asof_orderkey").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("asof_orderkey").alias("o_orderkey"),
            F.col("asof_orderdate").alias("o_orderdate"),
        )
        .orderBy("event_id")
    )


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-minute-gap sessions per user
    (gaps-and-islands over event times), session length + event count."""
    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gaps = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
            1,
        ).otherwise(0),
    )
    sessions = gaps.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_seq")
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-signup DAY,
    counted distinct-active per days-since-signup. Two keyed aggs and
    one join, all hashed on user_id — at scale the activity join
    co-partitions with the cohort frame (AQE), and day arithmetic is
    pure integer math so cross-engine results are exact."""
    ev = _read(spark, sf_dir, "events")
    cohorts = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
        .select("user_id", F.to_date("first_signup").alias("cohort_day"))
    )
    activity = ev.select(
        "user_id", F.to_date("ts").alias("active_day")
    ).distinct()
    return (
        activity.join(cohorts, "user_id")
        .withColumn("day_offset", F.datediff("active_day", "cohort_day"))
        .filter(F.col("day_offset") >= 0)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
        .orderBy("cohort_day", "day_offset")
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → click → purchase: each stage's first
    qualifying timestamp must follow the previous stage's within 1 day. Three aggs +
    two joins, ALL keyed on user_id — one partitioning reused end-to-end;
    the final count is a single-row rollup."""
    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        ev.join(s, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("s_ts"))
            & (F.col("ts") <= F.col("s_ts") + F.expr("INTERVAL 1 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + F.expr("INTERVAL 1 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("s_ts").alias("n_signup"),
            F.count("c_ts").alias("n_click_after_signup"),
            F.count("p_ts").alias("n_purchase_after_click"),
        )
    )


def q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed event rollup with FILTER-agg + exact decimal sums."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
            F.count(F.when(F.col("value") > 50, 1)).alias("n_high"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Metabase-card surface (SURVEY S7/O3/X13): top-k + fighter image URL.
# The reference cards order by the metric alone (charts.sh:154-498); a
# fighter tiebreak is added on BOTH engines so the LIMIT cutoff is
# deterministic.
# ---------------------------------------------------------------------------

_IMG_SQL = """CASE WHEN fighter IS NULL OR fighter = '' THEN NULL
  ELSE concat('http://localhost:8888/',
    regexp_replace(regexp_replace(lower(fighter), '[^a-z0-9]+', '_', 'g'),
                   '^_+|_+$', '', 'g'), '.png') END"""


# One spec per reference card (charts.sh:176-498): model, extra output
# columns after (fighter, image), the card's ORDER BY refined to a TOTAL
# order over the model's grain (so the LIMIT cutoff is deterministic on
# both engines), hidden order-only columns, and the LIMIT.
_DIRS = {
    "asc": ("asc", "ASC"),
    "desc": ("desc", "DESC"),
    "asc_nl": ("asc_nulls_last", "ASC NULLS LAST"),
    "desc_nl": ("desc_nulls_last", "DESC NULLS LAST"),
}

CARD_SPECS: dict[str, dict] = {
    "card_qof_at_time_top25": dict(
        model="quality_of_opposition_faced",
        cols=["avg_opponent_win_pct_at_time"],
        order=[("avg_opponent_win_pct_at_time", "desc_nl"), ("fighter", "asc")],
        limit=25,
    ),
    "card_qof_career_wins_top25": dict(
        model="quality_of_opposition_faced",
        cols=["avg_opponent_career_wins"],
        order=[("avg_opponent_career_wins", "desc_nl"), ("fighter", "asc")],
        limit=25,
    ),
    "card_title_fight_wins_top50": dict(
        model="title_fight_results_by_fighter",
        cols=["category", "title_fight_wins"],
        order=[("title_fight_wins", "desc"), ("fighter", "asc"), ("category", "asc")],
        limit=50,
    ),
    "card_multi_division_champs": dict(
        model="multi_division_champs",
        cols=["distinct_title_categories"],
        order=[("distinct_title_categories", "desc"), ("fighter", "asc")],
        limit=None,
    ),
    "card_wins_over_champions_top25": dict(
        model="wins_over_champions_agg",
        cols=["wins_over_champions"],
        order=[("wins_over_champions", "desc"), ("fighter", "asc")],
        limit=25,
    ),
    "card_longest_streaks_top25": dict(
        model="fighters_by_longest_winning_streak",
        cols=["longest_win_streak"],
        order=[("longest_win_streak", "desc"), ("fighter", "asc")],
        limit=25,
    ),
    "card_best_record_top25": dict(
        model="fighters_best_record",
        cols=["win_pct"],
        order=[("win_pct", "desc_nl"), ("fighter", "asc")],
        limit=25,
    ),
    "card_non_decision_top25": dict(
        model="fighters_by_non_decision_wins",
        cols=["non_decision_wins"],
        order=[("non_decision_wins", "desc"), ("fighter", "asc")],
        limit=25,
    ),
    "card_title_defenses_top50": dict(
        model="title_defenses",
        cols=["weight_category", "title_defenses"],
        order=[("title_defenses", "desc"), ("fighter", "asc"), ("weight_category", "asc")],
        limit=50,
    ),
    "card_champ_rounds_top50": dict(
        model="championship_rounds_fought",
        cols=["title_fights", "championship_rounds_fought"],
        order=[
            ("championship_rounds_fought", "desc"),
            ("title_fights", "desc"),
            ("fighter", "asc"),
        ],
        limit=50,
    ),
    "card_consec_defenses_top50": dict(
        model="consecutive_title_defenses",
        cols=["weight_category", "max_consecutive_title_defenses"],
        order=[
            ("max_consecutive_title_defenses", "desc"),
            ("fighter", "asc"),
            ("weight_category", "asc"),
        ],
        limit=50,
    ),
    "card_clutch_wins_top25": dict(
        model="clutch_wins",
        cols=["clutch_wins"],
        order=[("clutch_wins", "desc"), ("fighter", "asc")],
        limit=25,
    ),
    "card_total_champ_days_top50": dict(
        model="total_champ_days",
        cols=["weight_category", "total_champ_days"],
        order=[
            ("total_champ_days", "desc_nl"),
            ("fighter", "asc"),
            ("weight_category", "asc"),
        ],
        limit=50,
    ),
}


def _make_card(spec: dict) -> Query:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .api import build_model
        from .exprs import image_slug_url

        df = build_model(spark, sf_dir, spec["model"]).select(
            "fighter",
            image_slug_url("fighter").alias("fighter_image_url"),
            *spec["cols"],
        )
        order = [getattr(F, _DIRS[d][0])(c) for c, d in spec["order"]]
        out = df.orderBy(*order)
        if spec["limit"]:
            out = out.limit(spec["limit"])
        return out

    run.__name__ = f"card_{spec['model']}"
    return run


def _make_card_oracle(spec: dict) -> str:
    from .oracle import oracle_for

    cols = ", ".join(spec["cols"])
    order = ", ".join(f"{c} {_DIRS[d][1]}" for c, d in spec["order"])
    limit = f" LIMIT {spec['limit']}" if spec["limit"] else ""
    return f"""
SELECT fighter, {_IMG_SQL} AS fighter_image_url, {cols}
FROM ({oracle_for(spec['model'])})
ORDER BY {order}{limit}"""


def _card(model: str, metric: str, k: int) -> Query:
    spec = dict(model=model, cols=[metric],
                order=[(metric, "desc_nl"), ("fighter", "asc")], limit=k)
    return _make_card(spec)


def _card_oracle(model: str, metric: str, k: int) -> str:
    spec = dict(model=model, cols=[metric],
                order=[(metric, "desc_nl"), ("fighter", "asc")], limit=k)
    return _make_card_oracle(spec)


# ---------------------------------------------------------------------------
# multimodal plumbing (documents → opaque binary corpus)
# ---------------------------------------------------------------------------


def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    return multimodal.media_metadata(multimodal.synthesize_media(docs)).orderBy(
        "media_id"
    )


def q_multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the full binary → mapInPandas(fake decode) → frame-sample
    pipeline; the md5-derived stub keeps it oracle-checkable."""
    from .operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(docs)
    decoded = multimodal.decode_media(media, fake=True)
    return multimodal.sample_frames(decoded, every_n=30).orderBy(
        "media_id", "frame_idx"
    )


_KIND_SQL = """CASE WHEN doc_id % 3 = 0 THEN 'image'
  WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"""

# ---------------------------------------------------------------------------
# streaming (Trigger.AvailableNow → deterministic batch-equivalent results)
# ---------------------------------------------------------------------------


def q_streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events as se

    apply_runtime_confs(spark)
    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(se.tumbling_counts(stream)).orderBy(
        "window_start", "event_type"
    )


def q_streaming_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact windowed count(distinct) via chained stateful ops (dedup →
    windowed count), both state stores bounded by one watermark."""
    from .streaming import events as se

    apply_runtime_confs(spark)
    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(se.windowed_distinct_users(stream)).orderBy(
        "window_start"
    )


def q_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events as se

    apply_runtime_confs(spark)
    stream = se.read_events_stream(spark, sf_dir)
    customer = _read(spark, sf_dir, "customer")
    return se.run_available_now(
        se.stream_static_nation_activity(stream, customer)
    ).orderBy("window_start", "c_nationkey")


def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events as se

    apply_runtime_confs(spark)
    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(se.session_windows(stream)).orderBy(
        "user_id", "session_start"
    )


def q_streaming_stateful_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running per-user
    profiles; with one AvailableNow batch the update equals the batch
    group-by, which the oracle reproduces."""
    from .streaming import events as se

    apply_runtime_confs(spark)
    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(
        se.stateful_user_profiles(stream), output_mode="update"
    ).orderBy("user_id")


def q_streaming_dedup_redelivered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion: the source delivers every event TWICE
    (at-least-once redelivery); dropDuplicatesWithinWatermark emits each
    exactly once, so the oracle is simply the events table itself."""
    from .streaming import events as se

    apply_runtime_confs(spark)
    stream = se.read_events_stream_redelivered(spark, sf_dir)
    return se.run_available_now(
        se.dedup_redelivered(stream), output_mode="append"
    ).orderBy("event_id")


def q_streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two independent streams (separate sources over the same events
    file) joined on user_id + a 1-hour time-range bound; append mode."""
    from .streaming import events as se

    apply_runtime_confs(spark)
    signups = se.read_events_stream(spark, sf_dir)
    purchases = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(
        se.stream_stream_signup_purchase(signups, purchases), output_mode="append"
    ).orderBy("user_id", "signup_id", "purchase_id")


def q_streaming_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once into a non-transactional sink: redelivered
    source → streaming dedup → update-mode totals → foreachBatch MERGE
    into parquet. Forcing one file per micro-batch makes the sink apply
    multiple overlapping batches — the final table must still equal the
    batch ground truth, which is exactly what the oracle states."""
    from .streaming import events as se

    apply_runtime_confs(spark)
    stream = se.read_events_stream_redelivered(spark, sf_dir, max_files_per_trigger=1)
    target = cache.scratch(spark, "upsert_target_") + "/totals"
    se.run_foreach_batch_upsert(
        se.user_value_totals(stream), keys=["user_id"], target_dir=target
    )
    return spark.read.parquet(target).orderBy("user_id")


def q_streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import events as se

    apply_runtime_confs(spark)
    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(se.sliding_user_activity(stream)).orderBy(
        "window_start", "user_id"
    )


# ---------------------------------------------------------------------------
# scale operators, result-checked (their no-Exchange / skew-spread plan
# shapes are asserted in tests/test_scale_ops.py; these queries prove the
# rewrites are EXACT against a plain-SQL oracle)
# ---------------------------------------------------------------------------


def q_range_join_order_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join at scale: purchases landing inside the 3-day
    window after each signup by the same user, counted per signup. Runs as
    a hash equi-join on (user, day-bucket) via interval_bucket_join — the
    oracle states the same thing as a plain theta join."""
    ev = _read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 3 DAYS")).alias("win_end"),
    )
    matched = scale.interval_bucket_join(
        purchases,
        signups,
        point_key="user_id",
        interval_key="s_user",
        point_ts="ts",
        start_col="win_start",
        end_col="win_end",
        bucket_seconds=86400,
    )
    return (
        matched.groupBy("signup_id")
        .agg(F.count("*").alias("n_purchases"))
        .orderBy("signup_id")
    )


def q_salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation; algebraically identical to a
    plain GROUP BY, which is exactly what the oracle runs."""
    ev = _read(spark, sf_dir, "events")
    return scale.salted_sum_count(
        ev, ["event_type"], value_col="user_id", salt_buckets=8
    ).orderBy("event_type")


def q_bucketed_customer_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-bucket co-located join: both sides written bucketed on the
    join key, so the join (and the downstream agg) runs without a shuffle
    of either fact — the 100 TB layout for repeat-joined tables. The
    oracle is the plain join+agg."""
    sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    orders = _read(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,4)").alias("price")
    )
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o_tbl, c_tbl = f"bkt_orders_{sf_tag}", f"bkt_customer_{sf_tag}"
    scale.write_bucketed(orders, o_tbl, ["o_custkey"], num_buckets=16)
    scale.write_bucketed(cust, c_tbl, ["c_custkey"], num_buckets=16)
    o = scale.bucketed(spark, o_tbl)
    c = scale.bucketed(spark, c_tbl)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price").cast("double").alias("total_price"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# registry: each query of this module with its oracle, in queries() order
# ---------------------------------------------------------------------------


def _card_title_reigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """charts.sh:465-495 shape: reign leaderboard with image url, top 200."""
    from .api import build_model
    from .exprs import image_slug_url

    df = build_model(spark, sf_dir, "title_reigns")
    # (fighter, weight_category, start_date) is the reign PK → total order,
    # so the LIMIT cutoff is deterministic on both engines.
    return (
        df.select(
            "fighter",
            image_slug_url("fighter").alias("fighter_image_url"),
            "weight_category",
            "reign_days",
            "is_active",
            "start_date",
        )
        .orderBy(
            F.desc_nulls_last("reign_days"),
            F.asc("fighter"),
            F.asc("weight_category"),
            F.asc_nulls_last("start_date"),
        )
        .limit(200)
        .drop("start_date")
    )


def _mix_thresholds_sql() -> str:
    # identical truncation to training.mixture_sample: int(rate * 65536)
    whens = " ".join(
        f"WHEN '{name}' THEN '{format(min(int(rate * 65536), 65536), '05x')}'"
        for name, rate in _MIX_RATES.items()
    )
    default = format(min(int(_MIX_DEFAULT * 65536), 65536), "05x")
    return f"CASE source {whens} ELSE '{default}' END"


def _card_title_reigns_oracle() -> str:
    from .oracle import oracle_for

    return f"""
SELECT fighter, fighter_image_url, weight_category, reign_days, is_active FROM (
  SELECT fighter, {_IMG_SQL} AS fighter_image_url, weight_category,
         reign_days, is_active, start_date
  FROM ({oracle_for('title_reigns')})
  ORDER BY reign_days DESC NULLS LAST, fighter, weight_category,
           start_date ASC NULLS LAST
  LIMIT 200
)"""


query("range_join_order_window_events", q_range_join_order_window_events, """
SELECT s.event_id AS signup_id, count(*) AS n_purchases
FROM events s JOIN events p
  ON p.user_id = s.user_id
 AND s.event_type = 'signup' AND p.event_type = 'purchase'
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 3 DAY
GROUP BY signup_id ORDER BY signup_id""")
query("salted_event_type_stats", q_salted_event_type_stats, """
SELECT event_type, count(*) AS n, sum(user_id)::BIGINT AS sum_user_id
FROM events GROUP BY event_type ORDER BY event_type""")
query("bucketed_customer_order_totals", q_bucketed_customer_order_totals, """
SELECT c_nationkey, count(*) AS n_orders,
  sum(o_totalprice::DECIMAL(18,4))::DOUBLE AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey ORDER BY c_nationkey""")
query("dedup_exact", q_dedup_exact, """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents GROUP BY md5(text) HAVING count(*) > 1 ORDER BY text_hash""")
query("dedup_fingerprint", q_dedup_fingerprint, f"""
SELECT doc_id AS id, md5({_NORM_SQL}) AS fingerprint
FROM documents ORDER BY id""")
query("dedup_minhash_lsh", q_dedup_minhash_lsh, f"""
WITH {_SHINGLES_SQL.strip().lstrip(',')},
sigs AS ({_MINHASH_SQL}),
buckets AS ({_BANDS_SQL}),
cands AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
),
{_JACCARD_CORE_SQL.strip().lstrip(',')}
SELECT j.id_a, j.id_b, j.shared, j.union_size, j.jaccard
FROM jac j JOIN cands c ON j.id_a = c.id_a AND j.id_b = c.id_b
WHERE j.jaccard >= 0.2 ORDER BY j.id_a, j.id_b""")
query("dedup_clusters", q_dedup_clusters, f"""
WITH RECURSIVE {_SHINGLES_SQL.strip().lstrip(',')},
sigs AS ({_MINHASH_SQL}),
buckets AS ({_BANDS_SQL}),
cands AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
),
{_JACCARD_CORE_SQL.strip().lstrip(',')},
dup_pairs AS (
  SELECT j.id_a, j.id_b FROM jac j
  JOIN cands c ON j.id_a = c.id_a AND j.id_b = c.id_b
  WHERE j.jaccard >= 0.2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM dup_pairs
  UNION SELECT id_b, id_a FROM dup_pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  WHERE r.src <> e.dst
),
comp AS (
  SELECT src AS id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src
)
SELECT d.doc_id AS id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
  CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS is_canonical
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
ORDER BY id""")
query("dedup_ngram_jaccard", q_dedup_ngram_jaccard, f"""
WITH {_SHINGLES_SQL.strip().lstrip(',')},
{_JACCARD_CORE_SQL.strip().lstrip(',')}
SELECT id_a, id_b, shared, union_size, jaccard
FROM jac WHERE jaccard >= 0.2 ORDER BY id_a, id_b""")
query("dedup_prefix_filter", q_dedup_prefix_filter, f"""
WITH tok AS (
  SELECT DISTINCT doc_id AS id, t.tok AS token
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) d,
       unnest(toks) AS t(tok)
  WHERE t.tok <> ''
),
sizes AS (SELECT id, count(*) AS n FROM tok GROUP BY id),
shared AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
  FROM tok a JOIN tok b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT s.id_a, s.id_b, s.shared,
  (na.n + nb.n - s.shared) AS union_size,
  s.shared::DOUBLE / (na.n + nb.n - s.shared) AS jaccard
FROM shared s JOIN sizes na ON s.id_a = na.id JOIN sizes nb ON s.id_b = nb.id
WHERE 100 * s.shared >= 85 * (na.n + nb.n - s.shared)
ORDER BY id_a, id_b""")
query("dedup_simhash", q_dedup_simhash, f"""
WITH {_SIMHASH_SQL.strip().lstrip(',')}
SELECT id, simhash FROM simhashes ORDER BY id""")
query("dedup_simhash_pairs", q_dedup_simhash_pairs, f"""
WITH {_SIMHASH_SQL.strip().lstrip(',')}
SELECT a.id AS id_a, b.id AS id_b,
  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM simhashes a JOIN simhashes b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
ORDER BY id_a, id_b""")
query("dedup_simhash48_pairs", q_dedup_simhash48_pairs, f"""
WITH {_simhash_sql(48).strip().lstrip(',')}
SELECT a.id AS id_a, b.id AS id_b,
  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM simhashes a JOIN simhashes b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b""")
query("dedup_simhash64_pairs", q_dedup_simhash64_pairs, f"""
WITH {_simhash_sql(64).strip().lstrip(',')}
SELECT a.id AS id_a, b.id AS id_b,
  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM simhashes a JOIN simhashes b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b""")
query("dedup_repeated_spans", q_dedup_repeated_spans, f"""
WITH doc_toks AS (
  SELECT doc_id AS id, {_TOKS_SQL} AS toks FROM documents
),
pos AS (
  SELECT id, len(toks) AS n_tokens, t.p - 1 AS pos,
    array_to_string(toks[t.p:t.p+4], ' ') AS gram
  FROM doc_toks, unnest(generate_series(1, len(toks) - 4)) AS t(p)
  WHERE len(toks) >= 5
),
gram_docs AS (
  SELECT gram FROM (SELECT DISTINCT id, gram FROM pos)
  GROUP BY gram HAVING count(*) >= 2
),
dup AS (SELECT p.id, p.pos FROM pos p JOIN gram_docs g USING (gram)),
cov AS (
  SELECT id,
    CASE WHEN lag(pos) OVER (PARTITION BY id ORDER BY pos) IS NULL THEN 5
         ELSE least(5, pos - lag(pos) OVER (PARTITION BY id ORDER BY pos))
    END AS c
  FROM dup
),
per_doc AS (
  SELECT id, max(n_tokens) AS n_tokens, count(*) AS n_positions
  FROM pos GROUP BY id
),
agg AS (
  SELECT id, count(*) AS dup_positions, sum(c) AS covered FROM cov GROUP BY id
)
SELECT b.id, b.n_tokens::BIGINT AS n_tokens,
  b.n_positions::BIGINT AS n_positions,
  coalesce(a.dup_positions, 0)::BIGINT AS dup_positions,
  coalesce(a.covered, 0)::BIGINT AS covered_tokens,
  (coalesce(a.covered, 0) * 10000 // b.n_tokens)::BIGINT AS coverage_bps
FROM per_doc b LEFT JOIN agg a USING (id) ORDER BY id""")
query("dedup_incremental_batch", q_dedup_incremental_batch, f"""
WITH {_SHINGLES_SQL.strip().lstrip(',')},
sigs AS ({_MINHASH_SQL}),
buckets AS ({_BANDS_SQL}),
cands AS (
  SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
  FROM buckets b JOIN buckets c
    ON b.band = c.band AND b.bucket = c.bucket
  WHERE b.id % 10 = 0 AND c.id % 10 <> 0
),
sizes AS (SELECT id, count(*) AS n FROM shingles GROUP BY id),
shared AS (
  SELECT x.batch_id, x.corpus_id, count(*) AS shared
  FROM cands x
  JOIN shingles a ON a.id = x.batch_id
  JOIN shingles b ON b.id = x.corpus_id AND b.shingle = a.shingle
  GROUP BY x.batch_id, x.corpus_id
)
SELECT s.batch_id, s.corpus_id, s.shared,
  (nb.n + nc.n - s.shared) AS union_size,
  s.shared::DOUBLE / (nb.n + nc.n - s.shared) AS jaccard
FROM shared s
JOIN sizes nb ON s.batch_id = nb.id
JOIN sizes nc ON s.corpus_id = nc.id
WHERE s.shared::DOUBLE / (nb.n + nc.n - s.shared) >= 0.2
ORDER BY batch_id, corpus_id""")
query("text_token_stats", q_text_token_stats, f"""
SELECT doc_id AS id, len({_TOKS_SQL})::INT AS n_tokens,
  len(list_distinct({_TOKS_SQL}))::INT AS n_unique_tokens,
  length({_NORM_SQL})::INT AS n_chars_norm
FROM documents ORDER BY id""")
query("text_language_id", q_text_language_id, f"""
SELECT doc_id AS id, len({_TOKS_SQL})::INT AS n_tokens,
  len(list_filter({_TOKS_SQL}, t -> list_contains({_STOPLIST_SQL}, t)))::INT AS stop_tokens,
  CASE WHEN len(list_filter({_TOKS_SQL}, t -> list_contains({_STOPLIST_SQL}, t))) * 20
            >= len({_TOKS_SQL}) THEN 'en' ELSE 'und' END AS lang_guess
FROM documents ORDER BY id""")
query("text_quality_score", q_text_quality_score, f"""
WITH q AS (
  SELECT doc_id AS id,
    CASE WHEN length({_NORM_SQL}) BETWEEN 100 AND 20000 THEN 1 ELSE 0 END AS len_ok,
    CASE WHEN len(list_distinct({_TOKS_SQL})) * 5 >= len({_TOKS_SQL}) THEN 1 ELSE 0 END AS diversity_ok,
    CASE WHEN length(regexp_replace({_NORM_SQL}, '[^a-z]', '', 'g')) * 5
              >= length({_NORM_SQL}) * 3 THEN 1 ELSE 0 END AS alpha_ok
  FROM documents
)
SELECT id, len_ok, diversity_ok, alpha_ok,
  (len_ok + diversity_ok + alpha_ok) AS quality
FROM q ORDER BY id""")
query("text_ngram_repetition", q_text_ngram_repetition, """
WITH w AS (
  SELECT doc_id AS id, string_split(text, ' ') AS words FROM documents
),
g AS (
  SELECT id,
    list_transform(range(1, greatest(len(words) - 1, 0) + 1),
                   i -> words[i] || ' ' || words[i + 1]) AS grams
  FROM w
)
SELECT id, len(grams) AS total_ngrams,
  len(list_distinct(grams)) AS distinct_ngrams,
  CASE WHEN len(grams) > 0
    THEN 1.0 - len(list_distinct(grams))::DOUBLE / len(grams)::DOUBLE
    ELSE 0.0 END AS repetition_ratio
FROM g ORDER BY id""")
query("vocab_top_terms", q_vocab_top_terms, f"""
WITH toks AS (
  SELECT doc_id AS id, unnest({_TOKS_SQL}) AS term FROM documents
)
SELECT term, count(*) AS n_occurrences, count(DISTINCT id) AS n_docs
FROM toks WHERE term <> ''
GROUP BY term
ORDER BY n_occurrences DESC, term ASC
LIMIT 100""")
query("text_chunks", q_text_chunks, f"""
WITH base AS (
  SELECT doc_id AS id, {_NORM_SQL} AS norm FROM documents
  WHERE length({_NORM_SQL}) > 0
),
counted AS (
  SELECT id, norm,
    CASE WHEN length(norm) <= 200 THEN 0
         ELSE ceil((length(norm) - 200)::DOUBLE / 150)::INT END AS n_chunks
  FROM base
)
SELECT id, (s.start // 150)::INT AS chunk_idx,
  substr(norm, s.start + 1, 200) AS chunk_text,
  length(substr(norm, s.start + 1, 200))::INT AS chunk_chars
FROM counted, unnest(generate_series(0, n_chunks * 150, 150)) AS s(start)
ORDER BY id, chunk_idx""")
query("text_bpe_estimate", q_text_bpe_estimate, f"""
WITH base AS (SELECT doc_id AS id, {_NORM_SQL} AS norm FROM documents)
SELECT id,
  len(regexp_extract_all(norm, '[a-z0-9]+'))::INT AS word_runs,
  len(regexp_extract_all(norm, '[^a-z0-9 ]'))::INT AS punct_chars,
  (coalesce(list_sum(list_transform(regexp_extract_all(norm, '[a-z0-9]+'),
      w -> (length(w) + 3) // 4)), 0)
   + len(regexp_extract_all(norm, '[^a-z0-9 ]')))::BIGINT AS est_tokens
FROM base ORDER BY id""")
query("ann_cosine_topk", q_ann_cosine_topk, """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    list_dot_product(e.embedding::DOUBLE[], q.qvec)
      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
         * sqrt(list_dot_product(q.qvec, q.qvec))) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::INT AS rank FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank""")
query("embedding_quantize_int8", q_embedding_quantize_int8, """
WITH stats AS (
  SELECT min(x)::DOUBLE AS q_min, max(x)::DOUBLE AS q_max
  FROM (SELECT unnest(embedding) AS x FROM embeddings)
),
codes AS (
  SELECT vec_id,
    list_transform(embedding, x ->
      least(255, greatest(0,
        floor((x::DOUBLE - q_min) / (q_max - q_min) * 255.0)::INT))) AS codes
  FROM embeddings, stats
)
SELECT vec_id, list_aggregate(codes, 'sum')::BIGINT AS code_sum,
  codes[1] AS first_code
FROM codes ORDER BY vec_id""")
query("ann_ivf_topk", q_ann_ivf_topk, """
WITH reps AS (
  SELECT label AS rep_list, embedding::DOUBLE[] AS rep_vec
  FROM (
    SELECT label, embedding,
      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
    FROM embeddings
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
      FROM embeddings WHERE vec_id % 50 = 0),
probes AS (
  SELECT query_id, qvec, rep_list AS probe_list FROM (
    SELECT q.query_id, q.qvec, r.rep_list,
      row_number() OVER (PARTITION BY q.query_id ORDER BY
        list_dot_product(r.rep_vec, q.qvec)
          / (sqrt(list_dot_product(r.rep_vec, r.rep_vec))
             * sqrt(list_dot_product(q.qvec, q.qvec))) DESC, r.rep_list) AS pr
    FROM q, reps r
  ) WHERE pr <= 2
),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
    list_dot_product(e.embedding::DOUBLE[], p.qvec)
      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
         * sqrt(list_dot_product(p.qvec, p.qvec))) AS cosine
  FROM embeddings e JOIN probes p ON e.label = p.probe_list
  WHERE e.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank::INT AS rank FROM (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10 ORDER BY query_id, rank""")
query("ann_incremental_topk", q_ann_incremental_topk, """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    list_dot_product(e.embedding::DOUBLE[], q.qvec)
      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
         * sqrt(list_dot_product(q.qvec, q.qvec))) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::INT AS rank FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank""")
query("ann_lsh_buckets", q_ann_lsh_buckets, """
WITH weights AS (
  SELECT p.plane, d.dim,
    ((('0x' || substr(md5(p.plane || ':' || d.dim), 1, 15))::BIGINT % 2000) - 1000) AS w
  FROM (SELECT unnest(generate_series(0, 7)) AS plane) p,
       (SELECT unnest(generate_series(0, 63)) AS dim) d
),
comps AS (
  SELECT e.vec_id AS id, w.plane,
    sum(floor(e.x::DOUBLE * 1000000)::BIGINT * w.w) AS dot
  FROM (SELECT vec_id, embedding[d.dim + 1]::DOUBLE AS x, d.dim
        FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS dim) d) e
  JOIN weights w ON e.dim = w.dim
  GROUP BY e.vec_id, w.plane
)
SELECT id, sum(CASE WHEN dot > 0 THEN (1::BIGINT << plane::INT) ELSE 0 END)::BIGINT AS bucket
FROM comps GROUP BY id ORDER BY id""")
query("dedup_embedding_cosine", q_dedup_embedding_cosine, """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= 0.4
ORDER BY id_a, id_b""")
query(
    "dedup_embedding_lsh", q_dedup_embedding_lsh,
    _embedding_lsh_oracle(n_bands=4, band_bits=4, threshold=0.4),
)
query(
    "dedup_embedding_lsh90", q_dedup_embedding_lsh90,
    _embedding_lsh_oracle(n_bands=4, band_bits=16, threshold=0.9),
)
query("dedup_embedding_incremental", q_dedup_embedding_incremental, """
WITH weights AS (
  SELECT p.plane, d.dim,
    ((('0x' || substr(md5(p.plane || ':' || d.dim), 1, 15))::BIGINT % 2000) - 1000) AS w
  FROM (SELECT unnest(generate_series(0, 15)) AS plane) p,
       (SELECT unnest(generate_series(0, 63)) AS dim) d
),
comps AS (
  SELECT e.vec_id AS id, w.plane,
    sum(floor(e.x::DOUBLE * 1000000)::BIGINT * w.w) AS dot
  FROM (SELECT vec_id, embedding[d.dim + 1]::DOUBLE AS x, d.dim
        FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS dim) d) e
  JOIN weights w ON e.dim = w.dim
  GROUP BY e.vec_id, w.plane
),
buckets AS (
  SELECT id, sum(CASE WHEN dot > 0 THEN (1::BIGINT << plane::INT) ELSE 0 END)::BIGINT AS bucket
  FROM comps GROUP BY id
),
bands AS (
  SELECT bu.id, bd.band, (bu.bucket >> (bd.band * 4)) & 15 AS key
  FROM buckets bu, (SELECT unnest(generate_series(0, 3)) AS band) bd
),
cands AS (
  SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
  FROM bands b JOIN bands c ON b.band = c.band AND b.key = c.key
  WHERE b.id % 10 = 0 AND c.id % 10 <> 0
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT cd.batch_id, cd.corpus_id
FROM cands cd
JOIN e a ON cd.batch_id = a.vec_id
JOIN e b ON cd.corpus_id = b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= 0.4
ORDER BY batch_id, corpus_id""")
query("ann_lsh_recall_audit", q_ann_lsh_recall_audit, f"""
WITH truth AS (
  SELECT count(*) AS n_true FROM (
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          >= 0.4
  )
),
found AS (
  SELECT count(*) AS n_found FROM (
    {_embedding_lsh_oracle(n_bands=4, band_bits=4, threshold=0.4)}
  )
)
SELECT n_true::BIGINT AS n_true, n_found::BIGINT AS n_found,
  CASE WHEN n_true = 0 THEN 10000
       ELSE (n_found * 10000 // n_true) END::BIGINT AS recall_bps
FROM truth, found""")
query("tpch_q1", q_tpch_q1, """
SELECT l_returnflag, l_linestatus,
  sum(l_quantity::DECIMAL(18,4))::DOUBLE AS sum_qty,
  sum(l_extendedprice::DECIMAL(18,4))::DOUBLE AS sum_base_price,
  sum((l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(38,8))::DOUBLE AS sum_disc_price,
  count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""")
query("tpch_q3", q_tpch_q3, """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  sum((l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(38,8))::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10""")
query("tpch_q5", q_tpch_q5, """
SELECT n_name,
  sum((l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(38,8))::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name ORDER BY revenue DESC, n_name""")
query("tpch_q4_semijoin", q_tpch_q4_semijoin, """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
)
GROUP BY o_orderpriority ORDER BY o_orderpriority""")
query("tpch_q6_pushdown", q_tpch_q6_pushdown, """
SELECT
  sum((l_extendedprice::DECIMAL(18,4) * l_discount::DECIMAL(18,4))::DECIMAL(38,8))::DOUBLE AS revenue,
  count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.06 AND l_quantity < 25""")
query("tpch_q17_smallqty", q_tpch_q17_smallqty, """
WITH per_part AS (
  SELECT l_partkey, avg(l_quantity) AS avg_qty FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand, count(*) AS n_items,
  sum(l.l_extendedprice::DECIMAL(18,4))::DOUBLE AS small_qty_revenue
FROM lineitem l
JOIN per_part a ON l.l_partkey = a.l_partkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_quantity < 0.2 * a.avg_qty
GROUP BY p.p_brand ORDER BY p.p_brand""")
query("tpch_q12_priority_by_flag", q_tpch_q12_priority_by_flag, """
SELECT l_returnflag,
  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag ORDER BY l_returnflag""")
query("tpch_q14_promo_revenue", q_tpch_q14_promo_revenue, """
SELECT
  100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
    THEN (l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(38,8)
    ELSE 0::DECIMAL(38,8) END)::DOUBLE
  / sum((l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(38,8))::DOUBLE
  AS promo_revenue_pct,
  count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey""")
query("tpch_q19_disjunctive_join", q_tpch_q19_disjunctive_join, """
SELECT
  sum((l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(38,8))::DOUBLE AS revenue,
  count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 20 AND 50)""")
query("tpch_q7_nation_pairs", q_tpch_q7_nation_pairs, """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
  year(l.l_shipdate)::INT AS l_year,
  sum((l.l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l.l_discount::DECIMAL(18,4)))::DECIMAL(38,8))::DOUBLE AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year""")
query("tpch_q13_custdist", q_tpch_q13_custdist, """
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC""")
query("tpch_q15_top_supplier", q_tpch_q15_top_supplier, """
WITH per_sup AS (
  SELECT l_suppkey,
    sum((l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(38,8)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, p.total_revenue::DOUBLE AS total_revenue
FROM per_sup p JOIN supplier s ON s.s_suppkey = p.l_suppkey
WHERE p.total_revenue = (SELECT max(total_revenue) FROM per_sup)
ORDER BY s.s_suppkey""")
query("cube_order_totals", q_cube_order_totals, """
SELECT o_orderpriority, o_orderstatus,
  grouping_id(o_orderpriority, o_orderstatus)::INT AS gid,
  count(*) AS n_orders,
  sum(o_totalprice::DECIMAL(18,4))::DOUBLE AS total_price
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY gid ASC, o_orderpriority ASC NULLS LAST, o_orderstatus ASC NULLS LAST""")
query("topn_orders_per_customer", q_topn_orders_per_customer, """
WITH ranked AS (
  SELECT o_custkey,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk,
    o_orderkey, o_totalprice
  FROM orders
)
SELECT o_custkey, rk::INT AS rk, o_orderkey, o_totalprice
FROM ranked WHERE rk <= 3
ORDER BY o_custkey, rk""")
query("tpch_q18_large_orders", q_tpch_q18_large_orders, """
SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
  sum(l.l_quantity::DECIMAL(18,4))::DOUBLE AS sum_qty
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity::DECIMAL(18,4)) > 150
)
GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 100""")
query("tpch_q20_nested_semijoin", q_tpch_q20_nested_semijoin, """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity::DECIMAL(18,4)) > 50
)
AND s.s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
ORDER BY s.s_suppkey""")
query("tpch_q21_waiting_supplier", q_tpch_q21_waiting_supplier, """
SELECT s.s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name ASC""")
query("tpch_q22_global_sales", q_tpch_q22_global_sales, """
WITH coded AS (
  SELECT right(c_name, 2) AS cntrycode, c_custkey, c_acctbal
  FROM customer
  WHERE right(c_name, 2) IN ('01','13','17','18','23','29','30','31')
), stats AS (
  SELECT sum(c_acctbal::DECIMAL(18,4)) AS tot_bal, count(*) AS n_pos
  FROM coded WHERE c_acctbal > 0.0
)
SELECT cntrycode, count(*) AS numcust,
  sum(c_acctbal::DECIMAL(18,4))::DOUBLE AS totacctbal
FROM coded, stats
WHERE c_acctbal::DECIMAL(18,4) * n_pos > tot_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = coded.c_custkey AND o.o_orderpriority = '1-URGENT'
  )
GROUP BY cntrycode ORDER BY cntrycode""")
query("antijoin_dormant_customers", q_antijoin_dormant_customers, """
WITH stats AS (
  SELECT sum(c_acctbal::DECIMAL(18,4)) AS tot_bal, count(*) AS n_cust
  FROM customer
)
SELECT c.c_nationkey, count(*) AS n_customers,
  sum(c.c_acctbal::DECIMAL(18,4))::DOUBLE AS total_balance
FROM customer c, stats s
WHERE c.c_acctbal::DECIMAL(18,4) * s.n_cust > s.tot_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY c.c_nationkey ORDER BY c.c_nationkey""")
query("rollup_order_totals", q_rollup_order_totals, """
SELECT o_orderpriority, o_orderstatus,
  grouping_id(o_orderpriority, o_orderstatus)::INT AS gid,
  count(*) AS n_orders,
  sum(o_totalprice::DECIMAL(18,4))::DOUBLE AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY gid ASC, o_orderpriority ASC NULLS LAST, o_orderstatus ASC NULLS LAST""")
query("window_distribution", q_window_distribution, """
SELECT event_id, event_type,
  ntile(4) OVER w AS quartile,
  percent_rank() OVER w AS pr,
  cume_dist() OVER w AS cd,
  first_value(event_id) OVER w AS first_id,
  nth_value(event_id, 2) OVER w AS second_id
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
ORDER BY event_id""")
query("value_percentiles", q_value_percentiles, """
SELECT event_type,
  quantile_cont(value, 0.25) AS p25,
  quantile_cont(value, 0.5) AS p50,
  quantile_cont(value, 0.9) AS p90,
  quantile_cont(value, 0.99) AS p99,
  count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type""")
query("pivot_status_counts", q_pivot_status_counts, """
SELECT o_orderpriority,
  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p,
  sum(o_totalprice::DECIMAL(18,4))::DOUBLE AS total_price
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
query("dq_orders_checks", q_dq_orders_checks, """
SELECT check_name, n_violations FROM (
  SELECT 'not_null:o_orderkey' AS check_name,
    count(*) FILTER (WHERE o_orderkey IS NULL) AS n_violations FROM orders
  UNION ALL
  SELECT 'not_null:o_custkey',
    count(*) FILTER (WHERE o_custkey IS NULL) FROM orders
  UNION ALL
  SELECT 'not_null:o_orderdate',
    count(*) FILTER (WHERE o_orderdate IS NULL) FROM orders
  UNION ALL
  SELECT 'accepted_values:o_orderstatus',
    count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                     AND o_orderstatus NOT IN ('F','O','P')) FROM orders
  UNION ALL
  SELECT 'unique:o_orderkey',
    (SELECT count(*) FROM (
       SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1))
  UNION ALL
  SELECT 'fk:o_custkey->customer.c_custkey',
    (SELECT count(*) FROM orders o
     WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
       SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
) ORDER BY check_name""")
query("date_spine_monthly_revenue", q_date_spine_monthly_revenue, """
WITH bounds AS (
  SELECT date_trunc('month', min(o_orderdate)) AS lo,
         date_trunc('month', max(o_orderdate)) AS hi
  FROM orders
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH))::TIMESTAMP AS month_start
  FROM bounds
),
monthly AS (
  SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month_start,
    count(*) AS n_orders,
    sum(o_totalprice::DECIMAL(18,4))::DOUBLE AS revenue
  FROM orders GROUP BY 1
)
SELECT s.month_start,
  coalesce(m.n_orders, 0) AS n_orders,
  coalesce(m.revenue, 0.0) AS revenue
FROM spine s LEFT JOIN monthly m ON s.month_start = m.month_start
ORDER BY s.month_start""")
query("set_ops_customer_cohorts", q_set_ops_customer_cohorts, """
WITH early AS (
  SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
),
late AS (
  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
)
SELECT 'retained' AS cohort, o_custkey FROM (
  SELECT o_custkey FROM early INTERSECT SELECT o_custkey FROM late
)
UNION ALL
SELECT 'churned', o_custkey FROM (
  SELECT DISTINCT o_custkey FROM early
  EXCEPT SELECT DISTINCT o_custkey FROM late
)
ORDER BY cohort, o_custkey""")
query("json_props_stats", q_json_props_stats, """
SELECT event_type, count(*) AS n,
  count(json_extract(props, '$.k')) AS n_with_k,
  sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
  max(json_extract(props, '$.k')::BIGINT) AS max_k
FROM events GROUP BY event_type ORDER BY event_type""")
query("trailing_30d_totals", q_trailing_30d_totals, """
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
    datediff('day', DATE '1992-01-01', o_orderdate) AS epoch_day,
    o_totalprice::DECIMAL(18,4) AS price
  FROM orders
)
SELECT o_orderkey, o_custkey, o_orderdate,
  sum(price) OVER w::DOUBLE AS trailing_30d_total,
  count(*) OVER w AS trailing_30d_orders
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_day
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
ORDER BY o_orderkey""")
query("unpivot_lineitem_charges", q_unpivot_lineitem_charges, """
SELECT component, count(*) AS n, sum(amount)::DOUBLE AS total_amount
FROM (
  SELECT 'price' AS component, l_extendedprice::DECIMAL(18,4) AS amount FROM lineitem
  UNION ALL SELECT 'discount', l_discount::DECIMAL(18,4) FROM lineitem
  UNION ALL SELECT 'tax', l_tax::DECIMAL(18,4) FROM lineitem
)
GROUP BY component ORDER BY component""")
query("embedding_norm_stats", q_embedding_norm_stats, """
WITH e AS (
  SELECT label,
    round(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 6)::DECIMAL(18,6) AS norm6,
    len(list_filter(embedding, x -> x > 0)) AS n_pos
  FROM embeddings
)
SELECT label, count(*) AS n_vectors,
  sum(norm6)::DOUBLE / count(*) AS avg_l2_norm,
  sum(n_pos)::DOUBLE / count(*) AS avg_positive_dims
FROM e GROUP BY label ORDER BY label""")
query("split_stratified_counts", q_split_stratified_counts, f"""
WITH s AS (
  SELECT lang, {_split_case_sql('doc_id')} AS split, n_chars FROM documents
)
SELECT lang, split, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
FROM s GROUP BY lang, split ORDER BY lang, split""")
query("mixture_sample_counts", q_mixture_sample_counts, f"""
WITH kept AS (
  SELECT source, doc_id FROM documents
  WHERE '0' || substr(md5('{_MIX_SEED}:' || doc_id::VARCHAR), 1, 4)
        < {_mix_thresholds_sql()}
)
SELECT source, count(*) AS n_kept, sum(doc_id)::BIGINT AS sum_ids
FROM kept GROUP BY source ORDER BY source""")
query("pack_token_bins", q_pack_token_bins, """
WITH t AS (
  SELECT doc_id AS id, lang, (floor(n_chars / 4) + 1)::BIGINT AS tokens
  FROM documents
)
SELECT id, lang, tokens,
  ((sum(tokens) OVER (PARTITION BY lang ORDER BY id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens) // 4096)::BIGINT AS bin
FROM t ORDER BY id""")
query("shuffle_order", q_shuffle_order, f"""
SELECT doc_id AS id,
  row_number() OVER (
    ORDER BY md5('{_SPLIT_SEED}:' || doc_id::VARCHAR), doc_id) AS pos
FROM documents ORDER BY pos""")
query("asof_orders_before_events", q_asof_orders_before_events, """
WITH joined AS (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
    row_number() OVER (PARTITION BY e.event_id
      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e JOIN orders o
    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
)
SELECT event_id, user_id, ts, o_orderkey, o_orderdate
FROM joined WHERE rn = 1 ORDER BY event_id""")
query("sessionization", q_sessionization, """
WITH gaps AS (
  SELECT user_id, ts, event_id,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN prev_ts IS NULL OR (epoch_us(ts) // 1000000) - (epoch_us(prev_ts) // 1000000) > 1800 THEN 1 ELSE 0 END AS new_session
  FROM gaps
),
sessions AS (
  SELECT user_id, ts,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq::BIGINT AS session_seq, count(*) AS n_events,
  min(ts) AS session_start, max(ts) AS session_end
FROM sessions GROUP BY user_id, session_seq ORDER BY user_id, session_seq""")
query("event_type_stats", q_event_type_stats, """
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
  sum(value::DECIMAL(18,4))::DOUBLE AS sum_value,
  count(*) FILTER (WHERE value > 50) AS n_high
FROM events GROUP BY event_type ORDER BY event_type""")
query("cohort_retention", q_cohort_retention, """
WITH cohorts AS (
  SELECT user_id, min(ts)::DATE AS cohort_day
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, ts::DATE AS active_day FROM events
)
SELECT c.cohort_day,
  (a.active_day - c.cohort_day)::INT AS day_offset,
  count(DISTINCT a.user_id) AS n_active_users
FROM activity a JOIN cohorts c USING (user_id)
WHERE a.active_day - c.cohort_day >= 0
GROUP BY 1, 2 ORDER BY 1, 2""")
query("funnel_conversion", q_funnel_conversion, """
WITH s AS (
  SELECT user_id, min(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS c_ts
  FROM events e JOIN s USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s.s_ts
    AND e.ts <= s.s_ts + INTERVAL 1 DAY GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
    AND e.ts <= c.c_ts + INTERVAL 1 DAY GROUP BY e.user_id
)
SELECT count(s.s_ts) AS n_signup,
  count(c.c_ts) AS n_click_after_signup,
  count(p.p_ts) AS n_purchase_after_click
FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""")
query(
    "card_fighters_by_wins_top50", _card("fighters_by_wins", "wins", 50),
    _card_oracle("fighters_by_wins", "wins", 50),
)
query("card_title_reigns_days_top200", _card_title_reigns, _card_title_reigns_oracle())
query(
    "card_quality_of_opposition_top25",
    _card("quality_of_opposition_faced", "avg_opponent_win_pct_at_time", 25),
    _card_oracle("quality_of_opposition_faced", "avg_opponent_win_pct_at_time", 25),
)
query("multimodal_metadata", q_multimodal_metadata, f"""
SELECT doc_id AS media_id, {_KIND_SQL} AS kind,
  octet_length(encode(text))::BIGINT AS n_bytes, md5(text) AS digest
FROM documents ORDER BY media_id""")
query("multimodal_frame_plan", q_multimodal_frame_plan, f"""
WITH decoded AS (
  SELECT doc_id AS media_id,
    (1 + ('0x' || substr(md5(text), 1, 8))::BIGINT % 300)::INT AS n_frames
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id, f.frame_idx::INT AS frame_idx
FROM decoded, unnest(generate_series(0, n_frames - 1, 30)) AS f(frame_idx)
ORDER BY media_id, frame_idx""")
query("streaming_tumbling_counts", q_streaming_tumbling_counts, """
SELECT to_timestamp(((epoch_us(ts) // 1000000) // 300) * 300)::TIMESTAMP AS window_start,
  event_type, count(*) AS n,
  sum(value::DECIMAL(18,4))::DOUBLE AS sum_value
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""")
query("streaming_windowed_distinct", q_streaming_windowed_distinct, """
SELECT to_timestamp(((epoch_us(ts) // 1000000) // 900) * 900)::TIMESTAMP AS window_start,
  count(DISTINCT user_id) AS n_distinct_users
FROM events GROUP BY 1 ORDER BY window_start""")
query("streaming_static_join", q_streaming_static_join, """
SELECT to_timestamp(((epoch_us(e.ts) // 1000000) // 900) * 900)::TIMESTAMP AS window_start,
  c.c_nationkey, count(*) AS n_events,
  sum(e.value::DECIMAL(18,4))::DOUBLE AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2 ORDER BY window_start, c_nationkey""")
query("streaming_session_windows", q_streaming_session_windows, """
WITH gaps AS (
  SELECT user_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts,
    CASE WHEN prev_ts IS NULL OR (epoch_us(ts) // 1000000) - (epoch_us(prev_ts) // 1000000) > 1800 THEN 1 ELSE 0 END AS new_session
  FROM gaps
),
sessions AS (
  SELECT user_id, ts,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, count(*) AS n_events,
  min(ts) AS session_start, max(ts) AS session_end
FROM sessions GROUP BY user_id, session_seq
ORDER BY user_id, session_start""")
query("streaming_sliding_windows", q_streaming_sliding_windows, """
WITH contrib AS (
  SELECT user_id,
    to_timestamp(((epoch_us(ts) // 1000000) // 300) * 300 - off.o)::TIMESTAMP AS window_start
  FROM events, (SELECT unnest([0, 300]) AS o) off
)
SELECT window_start, user_id, count(*) AS n_events
FROM contrib GROUP BY 1, 2 ORDER BY window_start, user_id""")
query("streaming_dedup_redelivered", q_streaming_dedup_redelivered, """
SELECT event_id, ts, user_id, event_type, value
FROM events ORDER BY event_id""")
query("streaming_stream_stream_join", q_streaming_stream_stream_join, """
SELECT s.user_id, s.event_id AS signup_id, s.ts AS signup_ts,
  p.event_id AS purchase_id, p.ts AS purchase_ts, p.value
FROM events s JOIN events p
  ON s.user_id = p.user_id
 AND s.event_type = 'signup' AND p.event_type = 'purchase'
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
ORDER BY s.user_id, signup_id, purchase_id""")
query("streaming_foreach_batch_upsert", q_streaming_foreach_batch_upsert, """
SELECT user_id, count(*) AS n_events,
  sum(floor(value * 100)::BIGINT)::BIGINT AS value_cents
FROM events GROUP BY user_id ORDER BY user_id""")
query("streaming_stateful_profiles", q_streaming_stateful_profiles, """
WITH ranked AS (
  SELECT user_id, value, event_type,
    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, count(*) AS n_events,
  sum(floor(value * 100)::BIGINT)::BIGINT AS value_cents,
  max(CASE WHEN rn = 1 THEN event_type END) AS last_event_type
FROM ranked GROUP BY user_id ORDER BY user_id""")

for _name, _spec in CARD_SPECS.items():
    query(_name, _make_card(_spec), _make_card_oracle(_spec))
