"""Training-pipeline batch 2: late-interaction retrieval, ANN recall
audit, corpus LM quality filtering, curriculum bucketing, and a
deterministic bootstrap CI.

No reference analog (reshefsharvit/ufc-data-warehouse has no curation or
retrieval surface — SURVEY.md §2.9/§2.10); these extend the training-data
operator families the same way curation_queries.py does. Every output is
integer/string only, so the DuckDB cross-engine hash compare is exact.

Scale notes are per-query docstrings; the common posture: quantize to
int8 BEFORE the pairwise stage (4× less shuffle), keep scoring inside JVM
higher-order functions (no Python in the hot path), and make every
"random" choice a pure integer hash so reruns and engines agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import cache
from .analytics_queries import _RRF_ORACLE
from .extra_queries import q_dedup_clusters, q_dedup_minhash_lsh, q_dedup_simhash_pairs
from .operators import dedup, simsearch, text
from .operators.scale import spread_single_split as _spread
from .registry import QUERIES, query
from .session import apply_runtime_confs
from .sources.ingest import read_table as _read
from .sqlfrag import (
    _BANDS_SQL,
    _JACCARD_CORE_SQL,
    _MINHASH_SQL,
    _SHINGLES_SQL,
    _TOKS_SQL,
)


# ---------------------------------------------------------------------------
# Arrow cosine scoring, outer-join flush, recursive CTE, VARIANT paths,
# containment dedup
# ---------------------------------------------------------------------------


def q_ann_cosine_scores_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus cosine scoring against one probe vector via mapInArrow
    (zero-copy Arrow batches + one numpy matmul per batch). The probe is
    the corpus's first vector — ONE driver-side row fetch, documented:
    the scoring pass itself is map-only and fully distributed."""
    emb = _read(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    if probe is None:
        # empty corpus / missing probe id: empty result, stable schema
        return emb.select(
            "vec_id", F.lit(0.0).alias("cosine")
        ).limit(0)
    scored = simsearch.cosine_scores_arrow(emb, list(probe["embedding"]))
    return (
        scored.filter(F.col("vec_id") != 0)
        .select("vec_id", "cosine")
        .orderBy("vec_id")
    )


# float64 throughout (list_cosine_similarity computes in float32 and
# lands on the wrong side of the 6-dp comparison rounding for ~1% of rows)
query("ann_cosine_scores_arrow", q_ann_cosine_scores_arrow, """
WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
p AS (
  SELECT vec_id, unnest(embedding)::DOUBLE AS x, unnest(q.e)::DOUBLE AS y
  FROM embeddings, q
  WHERE vec_id <> 0
),
s AS (
  SELECT vec_id, SUM(x * y) AS dot,
         sqrt(SUM(x * x)) AS nx, sqrt(SUM(y * y)) AS ny
  FROM p GROUP BY vec_id
)
SELECT vec_id, dot / (nx * ny) AS cosine FROM s ORDER BY vec_id
""")


def q_streaming_outer_join_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join with flush sentinels:
    every signup with its purchases within 1 hour, null-completed once
    the watermark proves no match can arrive.

    Two subtleties this query pins down (both discovered empirically,
    verified via StreamingQueryProgress):

    1. The global watermark is min() across BOTH sides' watermark
       nodes, computed from rows that REACH those nodes. A finite
       replay therefore withholds null-completion for the tail of the
       stream (here: everything within 1h10m of the last signup) —
       correct streaming semantics, but it makes end-of-stream results
       partial. The flush sentinels (user_id −1, ts one day past the
       data, one per join role) raise both sides' max event time so the
       AvailableNow cleanup batch evicts — and null-completes — every
       real row, restoring an exact batch oracle.
    2. The sentinel filter must be applied to the BATCH result, not the
       streaming plan: a `user_id >= 0` predicate on the join output is
       pushed below the EventTimeWatermark operator, silently dropping
       the sentinels before they can advance the watermark.
    """
    from .streaming import events as se

    apply_runtime_confs(spark)
    joined = se.stream_stream_signup_purchase(
        se.read_events_stream_with_flush(spark, sf_dir),
        se.read_events_stream_with_flush(spark, sf_dir),
        how="left_outer",
    )
    out = se.run_available_now(joined, output_mode="append")
    return out.filter(F.col("user_id") >= 0).orderBy(
        "user_id", "signup_id", "purchase_id"
    )


query("streaming_outer_join_flush", q_streaming_outer_join_flush, """
WITH s AS (
  SELECT user_id, event_id AS signup_id, ts AS signup_ts
  FROM events WHERE event_type = 'signup'
),
p AS (
  SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts, value
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT s.user_id, s.signup_id, s.signup_ts,
         p.purchase_id, p.purchase_ts, p.value
  FROM s JOIN p ON s.user_id = p.p_user
   AND p.purchase_ts >= s.signup_ts
   AND p.purchase_ts <= s.signup_ts + INTERVAL 1 HOUR
)
SELECT * FROM m
UNION ALL
SELECT s.user_id, s.signup_id, s.signup_ts, NULL, NULL, NULL
FROM s
WHERE s.signup_id NOT IN (SELECT signup_id FROM m)
ORDER BY user_id, signup_id, purchase_id""")


def q_recursive_ancestor_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): transitive ancestor
    closure of a synthetic binary-tree hierarchy over customers
    (parent(k) = k DIV 2 — deterministic, engine-neutral). Output is the
    full (node, ancestor, depth) closure — the iterative-fixpoint query
    shape (org charts, BOM explosion, graph reachability) that, before
    Spark 4, needed a driver-side loop.

    Scale note: closure size is N·log N for a balanced hierarchy (depth
    ≤ 21 at 1.5M customers); each iteration is one self-join stage and
    Spark unions the per-iteration results — the plan is the same
    repeated-join DAG a hand-rolled loop would build, minus the driver
    round-trips.
    """
    apply_runtime_confs(spark)
    spark.read.parquet(f"{sf_dir}/customer.parquet").createOrReplaceTempView(
        "customer_rec_src"
    )
    return spark.sql(
        """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS node, c_custkey AS ancestor, 0 AS depth
  FROM customer_rec_src
  UNION ALL
  SELECT node, ancestor DIV 2 AS ancestor, depth + 1 AS depth
  FROM anc WHERE ancestor > 1
)
SELECT node, ancestor, depth FROM anc ORDER BY node, depth
"""
    )


def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): the events `props` JSON is
    parsed ONCE into the binary variant encoding (`parse_json`), then
    fields are extracted with `variant_get` path expressions. Unlike the
    typed `from_json` path (q_json_props_stats), variant is
    schema-flexible — new keys need no schema migration — while still
    avoiding per-field string re-parsing (`get_json_object` re-parses
    the JSON for every extracted path)."""
    ev = _read(spark, sf_dir, "events")
    v = F.parse_json("props")
    parsed = ev.select(
        "event_type",
        F.try_variant_get(v, "$.k", "long").alias("k"),
    )
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


query("recursive_ancestor_closure", q_recursive_ancestor_closure, """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS node, c_custkey AS ancestor, 0 AS depth
  FROM customer
  UNION ALL
  SELECT node, ancestor // 2 AS ancestor, depth + 1 AS depth
  FROM anc WHERE ancestor > 1
)
SELECT node, ancestor, depth FROM anc ORDER BY node, depth""")

query("variant_props_stats", q_variant_props_stats, """
SELECT event_type, count(*) AS n,
  count(json_extract(props, '$.k')) AS n_with_k,
  sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
  max(json_extract(props, '$.k')::BIGINT) AS max_k
FROM events GROUP BY event_type ORDER BY event_type""")


def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: ordered pairs where ≥90% of doc A's
    distinct tokens appear in doc B — the subset/quote-expansion case
    Jaccard misses (a short doc embedded in a long one scores low
    symmetric Jaccard but 100% containment). Integer threshold
    (100·shared ≥ 90·|A|) keeps the boundary engine-exact. Scale path:
    restrict to LSH/prefix-filter candidates exactly as jaccard_pairs
    does — the exhaustive token join here is the oracle-sized verify."""
    docs = _read(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(dedup.tokens(F.col("text")))).alias("token"),
    ).where(F.col("token") != "")
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .where(F.lit(100) * F.col("shared") >= F.lit(90) * F.col("n_a"))
        .select("id_a", "id_b", "shared", "n_a")
        .orderBy("id_a", "id_b")
    )


query("dedup_containment_pairs", q_dedup_containment_pairs, f"""
WITH tok AS (
  SELECT DISTINCT doc_id AS id, t.tok AS token
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) d,
       unnest(toks) AS t(tok)
  WHERE t.tok <> ''
),
sizes AS (SELECT id, count(*) AS n FROM tok GROUP BY id),
shared AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
  FROM tok a JOIN tok b ON a.token = b.token AND a.id <> b.id
  GROUP BY a.id, b.id
)
SELECT s.id_a, s.id_b, s.shared, z.n AS n_a
FROM shared s JOIN sizes z ON s.id_a = z.id
WHERE 100 * s.shared >= 90 * z.n
ORDER BY id_a, id_b
""")


# ---------------------------------------------------------------------------
# late-interaction (ColBERT-style) MaxSim over int8-quantized subvectors
# ---------------------------------------------------------------------------

_SUBVECS = 8
_SUBDIM = 8


# Hard cap on every ANN query set (the broadcast/collected side). The
# 1-in-100 sample alone grows with the corpus (n/100 — unbounded at 100 TB);
# the deterministic orderBy(vec_id) + LIMIT makes the query batch a true
# constant. A no-op at test SFs (sampled sets are <= 20 vectors) so oracles
# replay the same bound bit-for-bit.
_QUERY_SET_LIMIT = 64


def q_ann_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval: each 64-d embedding is treated as 8
    token-vectors of 8 dims; score(q, d) = Σ_i max_j <q_i, d_j> (ColBERT
    MaxSim). Vectors are int8-quantized FIRST, so every dot product is
    exact integer arithmetic — engine-reproducible and 4× cheaper to
    shuffle than float32.

    Scale: the corpus side stays partitioned; only the (small) query set
    is broadcast. Scoring is one JVM higher-order expression per pair —
    no Python, no explode — so the 100 TB plan is scan + broadcast-join +
    per-row codegen + top-k window over query_id (bounded state).
    """
    emb = _read(spark, sf_dir, "embeddings")
    codes = simsearch.quantize_int8(emb).select("vec_id", "codes")
    qcodes = (
        codes.filter(F.col("vec_id") % 100 == 0)
        .orderBy("vec_id")
        .limit(_QUERY_SET_LIMIT)
        .select(F.col("vec_id").alias("query_id"), F.col("codes").alias("qc"))
    )
    pairs = codes.crossJoin(F.broadcast(qcodes)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    score = F.expr(
        f"""
        aggregate(sequence(0, {_SUBVECS - 1}), 0L, (acc, i) -> acc +
          array_max(transform(sequence(0, {_SUBVECS - 1}), j ->
            aggregate(sequence(1, {_SUBDIM}), 0L, (a, k) ->
              a + CAST(element_at(qc, i * {_SUBDIM} + k) AS BIGINT)
                * CAST(element_at(codes, j * {_SUBDIM} + k) AS BIGINT)))))
        """
    )
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), score.alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "score")
        .orderBy("query_id", "rank")
    )


query("ann_maxsim_multivector", q_ann_maxsim_multivector, f"""
WITH stats AS (
  SELECT min(u.x)::DOUBLE AS qmin, max(u.x)::DOUBLE AS qmax
  FROM embeddings, unnest(embedding) AS u(x)
),
codes AS (
  SELECT vec_id,
    list_transform(embedding, x -> least(255, greatest(0,
      floor((x::DOUBLE - qmin) / (qmax - qmin) * 255.0)::INT))) AS codes
  FROM embeddings, stats
),
scored AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
    list_sum(list_transform(range(0, {_SUBVECS}), i ->
      list_max(list_transform(range(0, {_SUBVECS}), j ->
        list_dot_product(
          q.codes[i * {_SUBDIM} + 1 : i * {_SUBDIM} + {_SUBDIM}]::BIGINT[],
          d.codes[j * {_SUBDIM} + 1 : j * {_SUBDIM} + {_SUBDIM}]::BIGINT[])
      ))))::BIGINT AS score
  FROM codes d JOIN (SELECT * FROM codes WHERE vec_id % 100 = 0
                     ORDER BY vec_id LIMIT {_QUERY_SET_LIMIT}) q ON d.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, rank::INT AS rank, score FROM (
  SELECT query_id, neighbor_id, score,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY query_id, rank
""")


# ---------------------------------------------------------------------------
# ANN recall audit: IVF(n_probe=2) against the exact brute-force top-10
# ---------------------------------------------------------------------------


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess: per-query recall@10 of the IVF index path
    against the exact brute-force ranking (integer hit counts, bps).
    This is the acceptance gate an ANN index needs before it replaces
    exact search at scale — run on a sampled query set, alert when the
    bps drops. Both sides reuse the production operators, so the audit
    measures the REAL index, not a reimplementation.
    """
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = simsearch.cosine_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    ivf = simsearch.ivf_topk(emb, queries, k=10, n_probe=2).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor")
    )
    # the IVF result is bounded at |queries|·k rows — broadcast it so the
    # audit never sort-merges (plan-audit guard: no SMJ here)
    hits = exact.join(
        F.broadcast(ivf),
        (exact["query_id"] == ivf["query_id"])
        & (exact["neighbor_id"] == ivf["ivf_neighbor"]),
        "left",
    ).select(
        exact["query_id"].alias("qid"),
        F.when(F.col("ivf_neighbor").isNotNull(), 1).otherwise(0).alias("hit"),
    )
    return (
        hits.groupBy("qid")
        .agg(
            F.sum("hit").cast("long").alias("hits"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
        .select(
            F.col("qid").alias("query_id"),
            "hits",
            F.expr("hits * 10000 div k").alias("recall_bps"),
        )
        .orderBy("query_id")
    )


def _recall_oracle() -> str:
    exact = QUERIES["ann_cosine_topk"].oracle.strip()
    ivf = QUERIES["ann_ivf_topk"].oracle.strip()
    return f"""
WITH exact_t AS ({exact}),
ivf_t AS ({ivf}),
hits AS (
  SELECT e.query_id AS qid,
    CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
  FROM exact_t e LEFT JOIN ivf_t i
    ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
)
SELECT qid AS query_id, sum(hit)::BIGINT AS hits,
  (sum(hit) * 10000 // count(*))::BIGINT AS recall_bps
FROM hits GROUP BY qid ORDER BY query_id
"""


query("ann_recall_audit", q_ann_recall_audit, _recall_oracle())


# ---------------------------------------------------------------------------
# corpus bigram-LM quality signal (perplexity-proxy filter, all-integer)
# ---------------------------------------------------------------------------


def q_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality filter: score each document by how common
    its bigrams are in the WHOLE corpus (the cheap stand-in for an
    external LM — docs whose word pairs the corpus has never seen are the
    ones a KenLM filter would flag). All arithmetic is integer (corpus
    counts and floor-division averages) so the oracle matches exactly.

    Scale: bigrams come from ONE pass of a JVM transform (no posexplode
    self-join); the doc↔corpus-count join is on (w1, w2) — a key whose
    cardinality is bounded by vocab², far smaller than the corpus — and
    the per-doc re-aggregation happens before the per-source rollup, so
    the big shuffle moves (doc_id, w1, w2, n) partial counts, never raw
    token streams.
    """
    docs = _read(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    d = docs.select(
        "doc_id", "source", F.split(norm, " ").alias("toks")
    ).filter(F.size("toks") >= 2)
    bg = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (x, i) -> struct(x AS w1, toks[i + 1] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "source", F.col("bg.w1"), F.col("bg.w2"))
    doc_bg = bg.groupBy("doc_id", "source", "w1", "w2").agg(
        F.count(F.lit(1)).alias("n")
    )
    corpus = doc_bg.groupBy("w1", "w2").agg(F.sum("n").alias("cnt"))
    per_doc = (
        doc_bg.join(corpus, ["w1", "w2"])
        .groupBy("doc_id", "source")
        .agg(F.expr("sum(n * cnt) div sum(n)").alias("avg_bigram_freq"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("avg_bigram_freq").alias("min_freq"),
            F.max("avg_bigram_freq").alias("max_freq"),
            F.expr("sum(avg_bigram_freq) div count(1)").alias("mean_freq"),
        )
        .orderBy("source")
    )


query("bigram_lm_quality", q_bigram_lm_quality, """
WITH d AS (
  SELECT doc_id, source,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
      AS toks
  FROM documents
  WHERE len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) >= 2
),
bg AS (
  SELECT doc_id, source, toks[u.i] AS w1, toks[u.i + 1] AS w2
  FROM d, unnest(range(1, len(toks))) AS u(i)
),
doc_bg AS (
  SELECT doc_id, source, w1, w2, count(*)::BIGINT AS n
  FROM bg GROUP BY ALL
),
corpus AS (SELECT w1, w2, sum(n)::BIGINT AS cnt FROM doc_bg GROUP BY w1, w2),
per_doc AS (
  SELECT doc_id, source,
    (sum(b.n * c.cnt) // sum(b.n))::BIGINT AS avg_bigram_freq
  FROM doc_bg b JOIN corpus c ON b.w1 = c.w1 AND b.w2 = c.w2
  GROUP BY doc_id, source
)
SELECT source, count(*)::BIGINT AS n_docs,
  min(avg_bigram_freq) AS min_freq, max(avg_bigram_freq) AS max_freq,
  (sum(avg_bigram_freq) // count(*))::BIGINT AS mean_freq
FROM per_doc GROUP BY source ORDER BY source
""")


# ---------------------------------------------------------------------------
# curriculum bucketing: ntile phases over the quality score, per language
# ---------------------------------------------------------------------------


def q_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment: within each language, order
    documents by the quality score (best first, doc_id tie-break → total
    order, so ntile is deterministic) and split into 4 equal phases.
    Phase 1 is the high-quality warm-up slice, phase 4 the tail.

    De-weakened r5 (VERDICT r4 task 3): ntile over ALL documents per
    ~5-value lang key was one ~20 TB sort task per language at the
    100 TB scale (per-row tile output — no WindowGroupLimit rescue).
    Now exact closed-form ntile from the partitioned two-phase rank.
    The quality score has only 4 distinct values (0-3) — the
    value-range bucket mode would cap parallelism at 4 buckets per
    language — so this uses EQUI-DEPTH mode: splitters sampled from the
    full (-quality, id) composite split the giant tie groups across
    buckets by id.
    """
    from .operators.scale import exact_ntile_expr, global_order_rank

    q = text.quality_score(_read(spark, sf_dir, "documents"))
    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "lang", "n_chars"
    )
    # persist the COMPACT scored projection (id, lang, n_chars, quality —
    # no text): the two-phase rank references its input 3x (splitter
    # sample, rows, totals) and the upstream lineage here is a full-text
    # tokenize+score — exactly the expensive-lineage case the
    # global_order_rank docstring tells callers to pre-materialize
    # (rfm_customer_segments precedent). Measured: 5.47s -> see
    # AB_LOWCARD_r05.json for the committed A/B.
    scored = (
        q.join(docs, "id")
        .withColumn("_negq", -F.col("quality"))
        .select("id", "lang", "n_chars", "quality", "_negq")
        .persist()
    )
    # n_buckets=64: the equi-depth bisect embeds n_buckets-1 splitter
    # literals, and Catalyst's per-call analysis of that expression
    # dominates this query's driver time at 256 (measured best-of-3 at
    # sf0.1: 4.65s @256 -> 2.00s @64 -> 1.44s @32); 64 keeps max task
    # ~ N/64 — the knob a 100 TB caller raises with cluster size.
    ranked = global_order_rank(
        scored,
        "_negq",
        ["id"],
        n_buckets=64,
        partition_cols=["lang"],
        equi_depth=True,
    )
    return (
        ranked.withColumn("phase", exact_ntile_expr(4))
        .groupBy("lang", "phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("quality").cast("long").alias("sum_quality"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("lang", "phase")
    )


def _curriculum_oracle() -> str:
    quality = QUERIES["text_quality_score"].oracle.strip()
    return f"""
WITH qual AS ({quality}),
scored AS (
  SELECT q.id, q.quality, d.lang, d.n_chars,
    ntile(4) OVER (PARTITION BY d.lang ORDER BY q.quality DESC, q.id) AS phase
  FROM qual q JOIN documents d ON q.id = d.doc_id
)
SELECT lang, phase::INT AS phase, count(*)::BIGINT AS n_docs,
  sum(quality)::BIGINT AS sum_quality, sum(n_chars)::BIGINT AS sum_chars
FROM scored GROUP BY lang, phase ORDER BY lang, phase
"""


query("curriculum_phases", q_curriculum_phases, _curriculum_oracle())


# ---------------------------------------------------------------------------
# deterministic half-sample bootstrap CI for mean order value
# ---------------------------------------------------------------------------

_B_REPS = 32
_B_MULT = 2654435761  # Knuth multiplicative hash constant (public)
_B_STEP = 40503


def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-sample bootstrap for the mean order value: 32 deterministic
    pseudo-random half-samples (pure integer hash of (o_orderkey,
    replicate) — no RNG, so reruns and engines agree), each yielding a
    mean in exact integer cents; report the 2nd-lowest / 2nd-highest
    replicate mean as a ~94% CI plus the full-sample point estimate.

    Scale: the replicate fan-out is a 32× map-side explode of a
    (orderkey, cents) projection — no extra scan — and each replicate
    reduces immediately to one partial sum per partition, so the shuffle
    carries 32 rows per partition, not 32× the data.
    """
    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    reps = orders.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_B_REPS - 1))).alias("r"),
    ).filter(
        (F.col("o_orderkey") * _B_MULT + F.col("r") * _B_STEP) % 97 < 48
    )
    means = reps.groupBy("r").agg(
        F.expr("sum(cents) div count(1)").alias("mean_cents")
    )
    full = orders.agg(
        F.expr("sum(cents) div count(1)").alias("full_mean_cents")
    )
    w = Window.orderBy(F.asc("mean_cents"), F.asc("r"))
    ranked = means.withColumn("rk", F.row_number().over(w))
    lo = ranked.filter(F.col("rk") == 2).select(
        F.col("mean_cents").alias("lo_mean_cents")
    )
    hi = ranked.filter(F.col("rk") == _B_REPS - 1).select(
        F.col("mean_cents").alias("hi_mean_cents")
    )
    return (
        lo.crossJoin(hi)
        .crossJoin(full)
        .select(
            F.lit(_B_REPS).cast("long").alias("n_replicates"),
            "lo_mean_cents",
            "hi_mean_cents",
            "full_mean_cents",
        )
    )


query("bootstrap_mean_ci", q_bootstrap_mean_ci, f"""
WITH o AS (
  SELECT o_orderkey, floor(o_totalprice * 100)::BIGINT AS cents FROM orders
),
reps AS (
  SELECT r.r, cents FROM o, unnest(range(0, {_B_REPS})) AS r(r)
  WHERE (o_orderkey * {_B_MULT} + r.r * {_B_STEP}) % 97 < 48
),
means AS (
  SELECT r, (sum(cents) // count(*))::BIGINT AS mean_cents
  FROM reps GROUP BY r
),
ranked AS (
  SELECT mean_cents,
    row_number() OVER (ORDER BY mean_cents, r) AS rk
  FROM means
),
full_m AS (
  SELECT (sum(cents) // count(*))::BIGINT AS full_mean_cents FROM o
)
SELECT {_B_REPS}::BIGINT AS n_replicates,
  (SELECT mean_cents FROM ranked WHERE rk = 2) AS lo_mean_cents,
  (SELECT mean_cents FROM ranked WHERE rk = {_B_REPS - 1}) AS hi_mean_cents,
  full_mean_cents
FROM full_m
""")


# ---------------------------------------------------------------------------
# KS two-sample drift (exact integer max-CDF-distance)
# ---------------------------------------------------------------------------


def q_ks_two_sample_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov two-sample drift test between the purchase and
    non-purchase value distributions — the standard "did this feature's
    distribution shift?" gate in a training pipeline. The statistic is
    kept EXACT by integer cross-multiplication: D·n_a·n_b =
    max|cum_a(v)·n_b − cum_b(v)·n_a| over the distinct-value grid, so no
    float CDF ever exists and both engines agree bit-for-bit.

    Scale (VERDICT r3 task 6): the prefix sums run over DISTINCT values
    (already aggregated) AND through the two-phase
    operators/scale.py::global_order_rank machinery — range-bucketed
    parallel cumsums + broadcast offsets, one pass per counter — so even
    an unbounded value domain never hits a single-partition window.
    """
    from .operators.scale import global_order_rank

    ev = _read(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100).cast("long").alias("v"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("is_a"),
    )
    per_v = ev.groupBy("v").agg(
        F.sum("is_a").alias("ca"),
        F.sum(F.lit(1) - F.col("is_a")).alias("cb"),
    )
    cum = global_order_rank(
        per_v, "v", n_buckets=64,
        value_col=["ca", "cb"], cum_col=["cum_a", "cum_b"],
    ).select("v", "cum_a", "cum_b")
    totals = ev.agg(
        F.sum("is_a").alias("n_a"),
        F.sum(F.lit(1) - F.col("is_a")).alias("n_b"),
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.max(
                F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
            ).alias("d_scaled"),
        )
        .select(
            "n_a",
            "n_b",
            "d_scaled",
            F.expr("d_scaled * 10000 div (n_a * n_b)").alias("d_bps"),
        )
    )


query("ks_two_sample_drift", q_ks_two_sample_drift, """
WITH ev AS (
  SELECT floor(value * 100)::BIGINT AS v,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
  FROM events
),
per_v AS (
  SELECT v, sum(is_a)::BIGINT AS ca, sum(1 - is_a)::BIGINT AS cb
  FROM ev GROUP BY v
),
cum AS (
  SELECT v,
    sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
    sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM per_v
),
tot AS (
  SELECT sum(is_a)::BIGINT AS n_a, sum(1 - is_a)::BIGINT AS n_b FROM ev
)
SELECT n_a, n_b,
  max(abs(cum_a * n_b - cum_b * n_a))::BIGINT AS d_scaled,
  (max(abs(cum_a * n_b - cum_b * n_a)) * 10000 // (n_a * n_b))::BIGINT AS d_bps
FROM cum, tot GROUP BY n_a, n_b
""")


# ---------------------------------------------------------------------------
# calibration reliability bins (score deciles vs outcome rate)
# ---------------------------------------------------------------------------


def q_calibration_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for "does event value predict purchase?":
    decile-bucket the score (total order (score, event_id) → deterministic
    ntile), then per-bin positives and rate in integer bps. The companion
    to grouped_roc_auc — AUC says the ranking is good, this says whether
    the scores themselves are honest probabilities.

    Scale (VERDICT r3 task 2): the decile is EXACT ntile semantics but
    computed from operators/scale.py::global_order_rank — range-bucketed
    two-phase global row_number + the closed-form tile formula
    (exact_ntile_expr) — never a single-partition window over the whole
    events table. Fully distributed: per-bucket parallel windows, a
    ≤n_buckets offsets frame, one broadcast join back.
    """
    from .operators.scale import exact_ntile_expr, global_order_rank

    # persist the compact 3-column projection: the rank machinery
    # references its input 4x (count, splitter sample, window, totals) —
    # without this each pass re-scans the full events table; with it the
    # fact is read ONCE and the re-references hit the (spillable) cache
    ev = (
        _read(spark, sf_dir, "events")
        .select(
            "event_id",
            F.floor(F.col("value") * 100).cast("long").alias("score"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("pos"),
        )
        .persist()
    )
    # equi_depth: only ~101 distinct floor(value*100) scores exist over
    # the WHOLE events table — a value-function bucket would put O(1%) of
    # the table in ONE task's sort; range sampling splits the score ties
    # across buckets by event_id instead
    ranked = global_order_rank(
        ev, "score", ["event_id"], n_buckets=64, equi_depth=True
    )
    return (
        ranked.withColumn("bin", exact_ntile_expr(10))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            F.expr("n_pos * 10000 div n").alias("pos_rate_bps"),
        )
        .orderBy("bin")
    )


query("calibration_reliability_bins", q_calibration_reliability_bins, """
WITH ev AS (
  SELECT event_id, floor(value * 100)::BIGINT AS score,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events
),
binned AS (
  SELECT pos, ntile(10) OVER (ORDER BY score, event_id) AS bin FROM ev
)
SELECT bin::INT AS bin, count(*)::BIGINT AS n, sum(pos)::BIGINT AS n_pos,
  (sum(pos) * 10000 // count(*))::BIGINT AS pos_rate_bps
FROM binned GROUP BY bin ORDER BY bin
""")


# ---------------------------------------------------------------------------
# video scene-cut detection (multimodal plumbing, deterministic signatures)
# ---------------------------------------------------------------------------


def q_multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the synthetic video corpus: fake
    decode (mapInPandas stub) supplies n_frames, then per-video frame
    signatures + a lag window count the cuts. See
    operators/multimodal.py::scene_cut_stats for the scale posture.
    """
    from .operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    decoded = multimodal.decode_media(
        multimodal.synthesize_media(docs), fake=True
    )
    return multimodal.scene_cut_stats(decoded).orderBy("media_id")


query("multimodal_scene_cuts", q_multimodal_scene_cuts, """
WITH decoded AS (
  SELECT doc_id AS media_id,
    (1 + ('0x' || substr(md5(text), 1, 8))::BIGINT % 300)::INT AS n_frames
  FROM documents WHERE doc_id % 3 = 2
),
frames AS (
  SELECT media_id, n_frames, f.frame_idx
  FROM decoded, unnest(generate_series(0, n_frames - 1)) AS f(frame_idx)
),
sigs AS (
  SELECT media_id, n_frames, frame_idx,
    ('0x' || substr(md5(media_id::VARCHAR || ':' || frame_idx::VARCHAR), 1, 5))::BIGINT AS sig
  FROM frames
),
cuts AS (
  SELECT media_id, n_frames,
    CASE WHEN abs(sig - lag(sig) OVER (PARTITION BY media_id ORDER BY frame_idx))
              > 524288 THEN 1 ELSE 0 END AS cut
  FROM sigs
)
SELECT media_id, max(n_frames)::INT AS n_frames, sum(cut)::BIGINT AS n_cuts
FROM cuts GROUP BY media_id ORDER BY media_id
""")


# ---------------------------------------------------------------------------
# label-propagation communities over the part–supplier purchase graph
# ---------------------------------------------------------------------------

_LPA_SUPP_OFFSET = 10_000_000


def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes after 2 deterministic LPA rounds on the bipartite
    part–supplier co-purchase graph (supplier ids offset into their own
    space). Complements connected components (dedup_clusters) — LPA finds
    dense sub-communities inside one giant component, the structure CC is
    blind to. Oracle replays both rounds as unrolled CTEs.
    """
    from .operators import graph

    li = _read(spark, sf_dir, "lineitem")
    # r8 (guide §2.4): no query-side .distinct() — the operator's
    # adjacency build (collect_set per node) dedups edges itself, so the
    # pre-distinct was a redundant exchange+agg; results identical.
    # (q_graph_modularity_score keeps its distinct: there the frame also
    # feeds the degree counts, where dedup is load-bearing.)
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + F.lit(_LPA_SUPP_OFFSET)).alias("dst"),
    )
    labels = graph.label_propagation(edges, rounds=2)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("community_size"))
        .orderBy("label")
    )


query("graph_label_propagation", q_graph_label_propagation, f"""
WITH e0 AS (
  SELECT DISTINCT l_partkey AS src,
    l_suppkey + {_LPA_SUPP_OFFSET} AS dst
  FROM lineitem
),
e AS (
  SELECT src, dst FROM e0 WHERE src <> dst
  UNION
  SELECT dst, src FROM e0 WHERE src <> dst
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
c1 AS (
  SELECT e.src AS node, l.label, count(*) AS n
  FROM e JOIN l0 l ON e.dst = l.node GROUP BY e.src, l.label
),
l1 AS (
  SELECT node, label FROM (
    SELECT node, label,
      row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rn
    FROM c1
  ) WHERE rn = 1
),
c2 AS (
  SELECT e.src AS node, l.label, count(*) AS n
  FROM e JOIN l1 l ON e.dst = l.node GROUP BY e.src, l.label
),
l2 AS (
  SELECT node, label FROM (
    SELECT node, label,
      row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rn
    FROM c2
  ) WHERE rn = 1
)
SELECT label, count(*)::BIGINT AS community_size
FROM l2 GROUP BY label ORDER BY label
""")


# ---------------------------------------------------------------------------
# greedy k-center coreset selection (training-data selection)
# ---------------------------------------------------------------------------


def q_coreset_kcenter_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez greedy k-center over the embedding corpus (k=4, seeded at
    vec_id 0): the selection trace (rank, vec_id, maximin d²). See
    operators/simsearch.py::kcenter_coreset for the per-round plan."""
    emb = _read(spark, sf_dir, "embeddings")
    return simsearch.kcenter_coreset(emb, k=4).orderBy("rank")


query("coreset_kcenter_selection", q_coreset_kcenter_selection, """
WITH stats AS (
  SELECT min(u.x)::DOUBLE AS qmin, max(u.x)::DOUBLE AS qmax
  FROM embeddings, unnest(embedding) AS u(x)
),
codes AS (
  SELECT vec_id,
    list_transform(embedding, x -> least(255, greatest(0,
      floor((x::DOUBLE - qmin) / (qmax - qmin) * 255.0)::INT))) AS codes
  FROM embeddings, stats
),
pts AS (
  SELECT vec_id, codes,
    list_dot_product(codes::BIGINT[], codes::BIGINT[])::BIGINT AS sq
  FROM codes
),
c0 AS (SELECT vec_id, codes, sq FROM pts WHERE vec_id = 0),
m0 AS (
  SELECT p.vec_id, p.codes, p.sq,
    (p.sq + c.sq
     - 2 * list_dot_product(p.codes::BIGINT[], c.codes::BIGINT[]))::BIGINT
      AS mind
  FROM pts p, c0 c
),
c1 AS (SELECT * FROM m0 ORDER BY mind DESC, vec_id LIMIT 1),
m1 AS (
  SELECT p.vec_id, p.codes, p.sq,
    least(p.mind, (p.sq + c.sq
      - 2 * list_dot_product(p.codes::BIGINT[], c.codes::BIGINT[]))::BIGINT)
      AS mind
  FROM m0 p, c1 c
),
c2 AS (SELECT * FROM m1 ORDER BY mind DESC, vec_id LIMIT 1),
m2 AS (
  SELECT p.vec_id, p.codes, p.sq,
    least(p.mind, (p.sq + c.sq
      - 2 * list_dot_product(p.codes::BIGINT[], c.codes::BIGINT[]))::BIGINT)
      AS mind
  FROM m1 p, c2 c
),
c3 AS (SELECT * FROM m2 ORDER BY mind DESC, vec_id LIMIT 1)
SELECT 1::INT AS rank, vec_id, 0::BIGINT AS d2 FROM c0
UNION ALL SELECT 2::INT, vec_id, mind FROM c1
UNION ALL SELECT 3::INT, vec_id, mind FROM c2
UNION ALL SELECT 4::INT, vec_id, mind FROM c3
ORDER BY rank
""")


# ---------------------------------------------------------------------------
# Cohen's kappa: language-ID heuristic vs stored label (binary en/non-en)
# ---------------------------------------------------------------------------


def q_annotator_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement (Cohen's κ) between the stopword-ratio
    language heuristic and the stored lang label, binarized to en/non-en —
    the one-number upgrade of langid_confusion_matrix (92% raw agreement
    means little when 80% of docs are 'en' anyway). κ is kept exact by
    integer cross-multiplication: κ = (N·Σdiag − Σrow·col) /
    (N² − Σrow·col), emitted as numerator/denominator plus a
    truncated-toward-zero bps (CASE'd in the oracle because κ can be
    negative and SQL floor- vs truncate-division differ there).

    Scale: two map-side flags, one 4-cell agg — a single reduce of
    4 rows regardless of corpus size.
    """
    from .operators.text import lang_guess_expr

    docs = _read(spark, sf_dir, "documents")
    flags = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("a"),
        F.when(lang_guess_expr(F.col("text")) == "en", 1).otherwise(0).alias("p"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CASE WHEN a = p THEN 1 ELSE 0 END")).alias("agree"),
        F.sum("a").alias("a1"),
        F.sum("p").alias("p1"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("agree").cast("long").alias("n_agree"),
        F.expr("n * agree - (a1 * p1 + (n - a1) * (n - p1))").alias("kappa_num"),
        F.expr("n * n - (a1 * p1 + (n - a1) * (n - p1))").alias("kappa_den"),
        F.expr(
            "(n * agree - (a1 * p1 + (n - a1) * (n - p1))) * 10000"
            " div (n * n - (a1 * p1 + (n - a1) * (n - p1)))"
        ).alias("kappa_bps"),
    )


def _kappa_oracle() -> str:
    from .operators.text import EN_STOPWORDS

    stoplist = "[" + ", ".join(f"'{s}'" for s in EN_STOPWORDS) + "]"
    return f"""
WITH sig AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
    CASE WHEN len(list_filter({_TOKS_SQL}, t -> list_contains({stoplist}, t)))
              * 20 >= len({_TOKS_SQL}) THEN 1 ELSE 0 END AS p
  FROM documents),
agg AS (
  SELECT count(*)::BIGINT AS n,
    sum(CASE WHEN a = p THEN 1 ELSE 0 END)::BIGINT AS agree,
    sum(a)::BIGINT AS a1, sum(p)::BIGINT AS p1
  FROM sig)
SELECT n AS n_docs, agree AS n_agree,
  (n * agree - (a1 * p1 + (n - a1) * (n - p1)))::BIGINT AS kappa_num,
  (n * n - (a1 * p1 + (n - a1) * (n - p1)))::BIGINT AS kappa_den,
  (CASE WHEN n * agree >= a1 * p1 + (n - a1) * (n - p1)
    THEN (n * agree - (a1 * p1 + (n - a1) * (n - p1))) * 10000
         // (n * n - (a1 * p1 + (n - a1) * (n - p1)))
    ELSE -(((a1 * p1 + (n - a1) * (n - p1)) - n * agree) * 10000
           // (n * n - (a1 * p1 + (n - a1) * (n - p1))))
  END)::BIGINT AS kappa_bps
FROM agg
"""


query("annotator_agreement_kappa", q_annotator_agreement_kappa, _kappa_oracle())


def q_ann_maxsim_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy throughput path for late-interaction MaxSim — same
    integer scores as ann_maxsim_multivector (and the same oracle), one
    einsum per corpus batch instead of interpreted per-pair HOF lambdas.
    The query codes are a bounded driver-side collect (the query set,
    never the corpus), exactly like the probe fetch in
    ann_cosine_scores_arrow."""
    emb = _read(spark, sf_dir, "embeddings")
    codes = simsearch.quantize_int8(emb).select("vec_id", "codes")
    qrows = (
        codes.filter(F.col("vec_id") % 100 == 0)
        .orderBy("vec_id")
        .limit(_QUERY_SET_LIMIT)
        .collect()
    )
    scored = simsearch.maxsim_scores_arrow(
        codes, [(r["vec_id"], list(r["codes"])) for r in qrows]
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "score")
        .orderBy("query_id", "rank")
    )


query("ann_maxsim_arrow", q_ann_maxsim_arrow, QUERIES["ann_maxsim_multivector"].oracle)


# ---------------------------------------------------------------------------
# hard-negative mining (contrastive training data from the exact index)
# ---------------------------------------------------------------------------


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for contrastive training: among each query's exact
    top-10 cosine neighbors, keep the ones with a DIFFERENT label — the
    near-misses a contrastive loss learns most from. Pure composition of
    the production retriever (cosine_topk) with a label join, so mining
    quality tracks the real index; swap in the IVF/LSH retriever at scale
    and ann_recall_audit bounds what the approximation costs you.
    """
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    topk = simsearch.cosine_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id", "rank"
    )
    labels = emb.select("vec_id", "label")
    qlab = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    nlab = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    return (
        topk.join(F.broadcast(qlab), "query_id")
        .join(nlab, "neighbor_id")
        .filter(F.col("q_label") != F.col("n_label"))
        .select("query_id", "neighbor_id", "rank", "n_label")
        .orderBy("query_id", "rank")
    )


def _hard_negative_oracle() -> str:
    exact = QUERIES["ann_cosine_topk"].oracle.strip()
    return f"""
WITH topk AS ({exact})
SELECT t.query_id, t.neighbor_id, t.rank, n.label AS n_label
FROM topk t
JOIN embeddings q ON t.query_id = q.vec_id
JOIN embeddings n ON t.neighbor_id = n.vec_id
WHERE q.label <> n.label
ORDER BY t.query_id, t.rank
"""


query("hard_negative_mining", q_hard_negative_mining, _hard_negative_oracle())


# ---------------------------------------------------------------------------
# deterministic contrastive negative sampling
# ---------------------------------------------------------------------------

_NEG_K = 4
_NEG_MULT = 2654435761
_NEG_STEP = 40503
_NEG_MOD = 1_000_003


def q_contrastive_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random (but reproducible) negatives: for each anchor, the 4
    different-label candidates with the smallest integer hash of
    (anchor_id, candidate_id) — a pure-arithmetic stand-in for rand()
    that survives retries, repartitioning, and engine swaps, which
    per-row rand() does not. Per-anchor top-k window over the hash, so
    the scale plan is the same two-phase top-k every retriever uses.
    """
    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "label")
    anchors = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("a_label")
    )
    cand = emb.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("n_label")
    )
    h = (
        F.col("anchor_id") * _NEG_MULT + F.col("neg_id") * _NEG_STEP
    ) % _NEG_MOD
    w = Window.partitionBy("anchor_id").orderBy(F.asc("h"), F.asc("neg_id"))
    return (
        cand.crossJoin(F.broadcast(anchors))
        .filter(F.col("n_label") != F.col("a_label"))
        .withColumn("h", h)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _NEG_K)
        .select(
            "anchor_id",
            "neg_id",
            F.col("rk").cast("int").alias("rk"),
            "n_label",
        )
        .orderBy("anchor_id", "rk")
    )


query("contrastive_negative_sampling", q_contrastive_negative_sampling, f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, label AS a_label FROM embeddings
  WHERE vec_id % 25 = 0
),
scored AS (
  SELECT a.anchor_id, e.vec_id AS neg_id, e.label AS n_label,
    (a.anchor_id * {_NEG_MULT} + e.vec_id * {_NEG_STEP}) % {_NEG_MOD} AS h
  FROM anchors a JOIN embeddings e ON e.label <> a.a_label
)
SELECT anchor_id, neg_id, rk::INT AS rk, n_label FROM (
  SELECT anchor_id, neg_id, n_label,
    row_number() OVER (PARTITION BY anchor_id ORDER BY h, neg_id) AS rk
  FROM scored
) WHERE rk <= {_NEG_K} ORDER BY anchor_id, rk
""")


# ---------------------------------------------------------------------------
# class-scatter separability audit (exact integer Fisher raw material)
# ---------------------------------------------------------------------------


def q_embedding_class_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-class scatter per label over int8 codes, kept EXACT by the
    algebraic identity Σₓ|n·x − S|² = n²·Σₓ|x|² − n·|S|² (S = per-dim
    class sum): no float centroid ever exists, so the separability audit
    is engine-reproducible. Low scatter_num/n³ ⇒ tight class — the raw
    material for Fisher-ratio feature checks before training.

    Scale: one pass for per-row |x|² (JVM fold), one 64×-fan-out
    (label, dim) agg for S — both plain hash aggs; nothing quadratic.
    """
    emb = _read(spark, sf_dir, "embeddings")
    codes = simsearch.quantize_int8(emb).select("vec_id", "label", "codes")
    t2 = codes.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(simsearch._int_dot(F.col("codes"), F.col("codes"))).alias("t2"),
    )
    dims = codes.select(
        "label", F.posexplode("codes").alias("d", "v")
    ).groupBy("label", "d").agg(F.sum("v").cast("long").alias("s_d"))
    s2 = dims.groupBy("label").agg(
        F.sum(F.col("s_d") * F.col("s_d")).alias("s_dot_s")
    )
    return (
        t2.join(s2, "label")
        .select(
            "label",
            F.col("n").cast("long").alias("n"),
            "t2",
            "s_dot_s",
            F.expr("n * n * t2 - n * s_dot_s").alias("scatter_num"),
        )
        .orderBy("label")
    )


query("embedding_class_scatter", q_embedding_class_scatter, """
WITH stats AS (
  SELECT min(u.x)::DOUBLE AS qmin, max(u.x)::DOUBLE AS qmax
  FROM embeddings, unnest(embedding) AS u(x)
),
codes AS (
  SELECT vec_id, label,
    list_transform(embedding, x -> least(255, greatest(0,
      floor((x::DOUBLE - qmin) / (qmax - qmin) * 255.0)::INT))) AS codes
  FROM embeddings, stats
),
t2 AS (
  SELECT label, count(*)::BIGINT AS n,
    sum(list_dot_product(codes::BIGINT[], codes::BIGINT[]))::BIGINT AS t2
  FROM codes GROUP BY label
),
dims AS (
  SELECT label, d.d, sum(codes[d.d])::BIGINT AS s_d
  FROM codes, unnest(range(1, 65)) AS d(d)
  GROUP BY label, d.d
),
s2 AS (SELECT label, sum(s_d * s_d)::BIGINT AS s_dot_s FROM dims GROUP BY label)
SELECT t2.label, n, t2.t2, s_dot_s,
  (n * n * t2.t2 - n * s_dot_s)::BIGINT AS scatter_num
FROM t2 JOIN s2 ON t2.label = s2.label
ORDER BY t2.label
""")


# ---------------------------------------------------------------------------
# fairness: outcome-rate parity gap across user cohorts
# ---------------------------------------------------------------------------


def q_fairness_parity_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demographic-parity audit: purchase rate (bps) per user cohort and
    the max−min gap — the one-line fairness gate a model-serving pipeline
    alerts on. Two hash aggs; the final gap agg reduces ≤|cohorts| rows.
    """
    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 5).alias("cohort"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    rates = ev.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("n_pos"),
    ).select("cohort", F.expr("n_pos * 10000 div n").alias("rate_bps"))
    return rates.agg(
        F.count(F.lit(1)).cast("long").alias("n_cohorts"),
        F.min("rate_bps").alias("min_rate_bps"),
        F.max("rate_bps").alias("max_rate_bps"),
        (F.max("rate_bps") - F.min("rate_bps")).alias("gap_bps"),
    )


query("fairness_parity_gap", q_fairness_parity_gap, """
WITH rates AS (
  SELECT user_id % 5 AS cohort,
    (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 10000
     // count(*))::BIGINT AS rate_bps
  FROM events GROUP BY user_id % 5
)
SELECT count(*)::BIGINT AS n_cohorts,
  min(rate_bps) AS min_rate_bps, max(rate_bps) AS max_rate_bps,
  (max(rate_bps) - min(rate_bps))::BIGINT AS gap_bps
FROM rates
""")


# ---------------------------------------------------------------------------
# padding-waste audit for length-bucketed batching
# ---------------------------------------------------------------------------

_PAD_BUCKETS = [32, 64, 128, 256, 512, 1024, 2048, 4096, 8192]


def _bucket_case_spark() -> F.Column:
    expr = F.lit(16384)
    for b in reversed(_PAD_BUCKETS):
        expr = F.when(F.col("n_tokens") <= b, b).otherwise(expr)
    return expr


def _bucket_case_sql() -> str:
    clauses = " ".join(
        f"WHEN n_tokens <= {b} THEN {b}" for b in _PAD_BUCKETS
    )
    return f"CASE {clauses} ELSE 16384 END"


def q_padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching efficiency audit: docs land in power-of-2 length
    buckets (the CASE ladder sidesteps float log2 — engine-exact), and
    per bucket the padded-token waste is reported in integer bps. High
    waste in a bucket says the batcher needs a finer bucket grid there —
    the token-throughput lever for encoder training at scale. One scan,
    one hash agg.
    """
    docs = _read(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    toks = docs.select(F.size(F.split(norm, " ")).alias("n_tokens"))
    binned = toks.withColumn("bucket", _bucket_case_spark())
    return (
        binned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum(F.col("bucket") - F.col("n_tokens"))
            .cast("long")
            .alias("sum_waste"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_docs",
            "sum_tokens",
            "sum_waste",
            F.expr("sum_waste * 10000 div (n_docs * bucket)").alias(
                "waste_bps"
            ),
        )
        .orderBy("bucket")
    )


query("padding_waste_audit", q_padding_waste_audit, f"""
WITH toks AS (
  SELECT len(string_split(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_tokens
  FROM documents
),
binned AS (SELECT n_tokens, {_bucket_case_sql()} AS bucket FROM toks)
SELECT bucket::INT AS bucket, count(*)::BIGINT AS n_docs,
  sum(n_tokens)::BIGINT AS sum_tokens,
  sum(bucket - n_tokens)::BIGINT AS sum_waste,
  (sum(bucket - n_tokens) * 10000 // (count(*) * bucket))::BIGINT AS waste_bps
FROM binned GROUP BY bucket ORDER BY bucket
""")


# ---------------------------------------------------------------------------
# audio VAD segments (gaps-and-islands over deterministic frame energy)
# ---------------------------------------------------------------------------


def q_multimodal_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation plan: STFT frame grid from
    audio_window_plan, a deterministic md5 'energy' per frame standing in
    for the real energy detector (decode stays stubbed), then
    gaps-and-islands merges voiced frames into segments — per clip:
    frames, voiced frames, segment count, longest segment. The
    islands window partitions by media_id, so state never crosses clips.
    """
    from .operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(docs)
    plan = multimodal.audio_window_plan(media).filter(F.col("n_frames") > 0)
    frames = plan.select(
        "media_id",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1)
        ).alias("frame_idx"),
    )
    energy = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col("media_id"), F.col("frame_idx"))), 1, 5
        ),
        16,
        10,
    ).cast("long")
    voiced = frames.withColumn("energy", energy).filter(
        F.col("energy") % 100 < 55
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    islands = voiced.withColumn(
        "island", F.col("frame_idx") - F.row_number().over(w)
    )
    seg = islands.groupBy("media_id", "island").agg(
        F.count(F.lit(1)).alias("seg_len")
    )
    per_media = seg.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("seg_len").cast("long").alias("n_voiced"),
        F.max("seg_len").cast("long").alias("longest_segment"),
    )
    return (
        plan.select("media_id", "n_frames")
        .join(per_media, "media_id", "left")
        .fillna(0, subset=["n_segments", "n_voiced", "longest_segment"])
        .orderBy("media_id")
    )


query("multimodal_audio_vad_segments", q_multimodal_audio_vad_segments, """
WITH plan AS (
  SELECT doc_id AS media_id,
    greatest(0, 1 + (octet_length(encode(text)) // 2 - 400) // 160) AS n_frames
  FROM documents WHERE doc_id % 3 = 1
),
frames AS (
  SELECT media_id, n_frames, f.frame_idx
  FROM plan, unnest(generate_series(0, n_frames - 1)) AS f(frame_idx)
  WHERE n_frames > 0
),
voiced AS (
  SELECT media_id, n_frames, frame_idx
  FROM frames
  WHERE ('0x' || substr(md5(media_id::VARCHAR || '#' || frame_idx::VARCHAR),
                        1, 5))::BIGINT % 100 < 55
),
islands AS (
  SELECT media_id, frame_idx
    - row_number() OVER (PARTITION BY media_id ORDER BY frame_idx) AS island
  FROM voiced
),
seg AS (
  SELECT media_id, island, count(*)::BIGINT AS seg_len
  FROM islands GROUP BY media_id, island
),
per_media AS (
  SELECT media_id, count(*)::BIGINT AS n_segments,
    sum(seg_len)::BIGINT AS n_voiced, max(seg_len)::BIGINT AS longest_segment
  FROM seg GROUP BY media_id
)
SELECT p.media_id, p.n_frames::BIGINT AS n_frames,
  coalesce(m.n_segments, 0) AS n_segments,
  coalesce(m.n_voiced, 0) AS n_voiced,
  coalesce(m.longest_segment, 0) AS longest_segment
FROM plan p LEFT JOIN per_media m ON p.media_id = m.media_id
WHERE p.n_frames > 0
ORDER BY p.media_id
""")


# ---------------------------------------------------------------------------
# leakage-safe grouped k-fold assignment
# ---------------------------------------------------------------------------


def q_groupwise_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped 5-fold CV assignment: the fold is a pure integer hash of
    user_id, so ALL of a user's events land in one fold by construction —
    the leakage-safe split sklearn's GroupKFold provides, expressed as a
    map-side column (reproducible across engines/retries). Per fold:
    users, events, and event share in bps.
    """
    ev = _read(spark, sf_dir, "events").select(
        ((F.col("user_id") * 2654435761) % 5).alias("fold"), "user_id"
    )
    per_fold = ev.groupBy("fold").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        per_fold.crossJoin(F.broadcast(total))
        .select(
            "fold",
            "n_users",
            "n_events",
            F.expr("n_events * 10000 div n_total").alias("share_bps"),
        )
        .orderBy("fold")
    )


query("groupwise_kfold_assignment", q_groupwise_kfold_assignment, """
WITH ev AS (
  SELECT (user_id * 2654435761) % 5 AS fold, user_id FROM events
),
tot AS (SELECT count(*)::BIGINT AS n_total FROM ev)
SELECT fold, count(DISTINCT user_id)::BIGINT AS n_users,
  count(*)::BIGINT AS n_events,
  (count(*) * 10000 // n_total)::BIGINT AS share_bps
FROM ev, tot GROUP BY fold, n_total ORDER BY fold
""")


# ---------------------------------------------------------------------------
# preference-pair construction (best-vs-worst per source)
# ---------------------------------------------------------------------------


def q_preference_pair_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference pairs for reward-model training: per source, the
    highest-quality document (chosen) against the lowest (rejected),
    with deterministic tie-breaks (quality, doc_id) making the pairing a
    total order. Two per-source top-1 windows — the same bounded-state
    shape at any corpus size.
    """
    q = text.quality_score(_read(spark, sf_dir, "documents"))
    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "source"
    )
    scored = q.select("id", "quality").join(docs, "id")
    w_hi = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("id")
    )
    w_lo = Window.partitionBy("source").orderBy(
        F.asc("quality"), F.asc("id")
    )
    hi = (
        scored.withColumn("rn", F.row_number().over(w_hi))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("id").alias("chosen_id"),
            F.col("quality").alias("chosen_quality"),
        )
    )
    lo = (
        scored.withColumn("rn", F.row_number().over(w_lo))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("id").alias("rejected_id"),
            F.col("quality").alias("rejected_quality"),
        )
    )
    return (
        # one row per source on each side — broadcast, never sort-merge
        hi.join(F.broadcast(lo), "source")
        .select(
            "source",
            "chosen_id",
            "rejected_id",
            "chosen_quality",
            "rejected_quality",
            (F.col("chosen_quality") - F.col("rejected_quality")).alias(
                "margin"
            ),
        )
        .orderBy("source")
    )


def _preference_oracle() -> str:
    quality = QUERIES["text_quality_score"].oracle.strip()
    return f"""
WITH qual AS ({quality}),
scored AS (
  SELECT q.id, q.quality, d.source
  FROM qual q JOIN documents d ON q.id = d.doc_id
),
hi AS (
  SELECT source, id AS chosen_id, quality AS chosen_quality FROM (
    SELECT *, row_number() OVER (PARTITION BY source
      ORDER BY quality DESC, id) AS rn FROM scored) WHERE rn = 1
),
lo AS (
  SELECT source, id AS rejected_id, quality AS rejected_quality FROM (
    SELECT *, row_number() OVER (PARTITION BY source
      ORDER BY quality, id) AS rn FROM scored) WHERE rn = 1
)
SELECT hi.source, chosen_id, rejected_id, chosen_quality, rejected_quality,
  (chosen_quality - rejected_quality) AS margin
FROM hi JOIN lo ON hi.source = lo.source
ORDER BY hi.source
"""


query(
    "preference_pair_construction", q_preference_pair_construction, _preference_oracle()
)


# ---------------------------------------------------------------------------
# tokenizer fertility by language
# ---------------------------------------------------------------------------


def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (estimated BPE tokens per whitespace word, in
    bps) per language — the tokenizer-evaluation number that decides
    whether a vocab under-serves a language (fertility ≫ 10000 = more
    subword splits per word). Reuses the corpus BPE estimator; one scan,
    one hash agg per language.
    """
    docs = _read(spark, sf_dir, "documents")
    est = text.bpe_token_estimate(docs).select("id", "est_tokens")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    ws = docs.select(
        F.col("doc_id").alias("id"),
        "lang",
        F.size(F.split(norm, " ")).cast("long").alias("ws_tokens"),
    )
    return (
        est.join(ws, "id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("est_tokens").cast("long").alias("sum_bpe"),
            F.sum("ws_tokens").cast("long").alias("sum_ws"),
        )
        .select(
            "lang",
            "n_docs",
            "sum_bpe",
            "sum_ws",
            F.expr("sum_bpe * 10000 div sum_ws").alias("fertility_bps"),
        )
        .orderBy("lang")
    )


query("tokenizer_fertility_by_lang", q_tokenizer_fertility_by_lang, """
WITH base AS (
  SELECT doc_id AS id, lang,
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
est AS (
  SELECT id, lang,
    (coalesce(list_sum(list_transform(regexp_extract_all(norm, '[a-z0-9]+'),
        w -> (length(w) + 3) // 4)), 0)
     + len(regexp_extract_all(norm, '[^a-z0-9 ]')))::BIGINT AS est_tokens,
    len(string_split(norm, ' '))::BIGINT AS ws_tokens
  FROM base
)
SELECT lang, count(*)::BIGINT AS n_docs, sum(est_tokens)::BIGINT AS sum_bpe,
  sum(ws_tokens)::BIGINT AS sum_ws,
  (sum(est_tokens) * 10000 // sum(ws_tokens))::BIGINT AS fertility_bps
FROM est GROUP BY lang ORDER BY lang
""")


# ---------------------------------------------------------------------------
# T5-style span-corruption planning (deterministic mask schedule)
# ---------------------------------------------------------------------------

_SPAN_LEN = 3
_SPAN_NOISE_PCT = 15


def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption (T5 denoising) mask schedule: tokens are grouped
    into length-3 spans and a span is masked iff an integer hash of
    (doc_id, span_idx) lands under the 15% noise rate — reproducible
    across engines/retries/epochs, unlike rand(). Reports per source the
    masked-token and sentinel budgets the seq2seq batcher needs.

    Scale: the explode is per SPAN (3× fewer rows than per-token) and
    tokens are never materialized — span sizes come from arithmetic on
    the token count. One scan, one span-level agg, one source rollup.
    """
    docs = _read(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    base = docs.select(
        "doc_id",
        "source",
        F.size(F.split(norm, " ")).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    spans = base.select(
        "doc_id",
        "source",
        "n_tokens",
        F.explode(
            F.sequence(
                F.lit(0),
                F.expr(f"(n_tokens + {_SPAN_LEN - 1}) div {_SPAN_LEN} - 1"),
            )
        ).alias("g"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("doc_id"), F.col("g"))), 1, 5
        ),
        16,
        10,
    ).cast("long")
    masked = spans.withColumn("is_masked", (h % 100 < _SPAN_NOISE_PCT)).select(
        "doc_id",
        "source",
        "n_tokens",
        F.when(
            F.col("is_masked"),
            F.least(
                F.lit(_SPAN_LEN).cast("long"),
                F.col("n_tokens") - F.col("g") * _SPAN_LEN,
            ),
        )
        .otherwise(0)
        .alias("masked_tokens"),
        F.when(F.col("is_masked"), 1).otherwise(0).alias("sentinel"),
    )
    per_doc = masked.groupBy("doc_id", "source", "n_tokens").agg(
        F.sum("masked_tokens").alias("n_masked"),
        F.sum("sentinel").alias("n_sentinels"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum("n_masked").cast("long").alias("sum_masked"),
            F.sum("n_sentinels").cast("long").alias("sum_sentinels"),
        )
        .select(
            "source",
            "n_docs",
            "sum_tokens",
            "sum_masked",
            "sum_sentinels",
            F.expr("sum_masked * 10000 div sum_tokens").alias(
                "corruption_bps"
            ),
        )
        .orderBy("source")
    )


query("span_corruption_plan", q_span_corruption_plan, f"""
WITH base AS (
  SELECT doc_id, source,
    len(string_split(
      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))::BIGINT
      AS n_tokens
  FROM documents
),
spans AS (
  SELECT doc_id, source, n_tokens, g.g
  FROM base,
    unnest(generate_series(0,
      (n_tokens + {_SPAN_LEN - 1}) // {_SPAN_LEN} - 1)) AS g(g)
  WHERE n_tokens > 0
),
masked AS (
  SELECT doc_id, source, n_tokens,
    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || '|' || g::VARCHAR),
                              1, 5))::BIGINT % 100 < {_SPAN_NOISE_PCT}
      THEN least({_SPAN_LEN}, n_tokens - g * {_SPAN_LEN}) ELSE 0 END
      AS masked_tokens,
    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || '|' || g::VARCHAR),
                              1, 5))::BIGINT % 100 < {_SPAN_NOISE_PCT}
      THEN 1 ELSE 0 END AS sentinel
  FROM spans
),
per_doc AS (
  SELECT doc_id, source, n_tokens,
    sum(masked_tokens)::BIGINT AS n_masked,
    sum(sentinel)::BIGINT AS n_sentinels
  FROM masked GROUP BY doc_id, source, n_tokens
)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(n_tokens)::BIGINT AS sum_tokens,
  sum(n_masked)::BIGINT AS sum_masked,
  sum(n_sentinels)::BIGINT AS sum_sentinels,
  (sum(n_masked) * 10000 // sum(n_tokens))::BIGINT AS corruption_bps
FROM per_doc GROUP BY source ORDER BY source
""")


# ---------------------------------------------------------------------------
# tail-language upsampling factors (data balancing)
# ---------------------------------------------------------------------------


def q_lang_upsampling_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-balancing schedule: each language's integer upsampling factor
    = clamp(max_lang_count div lang_count, 1, 4) — the bounded repeat
    count a mixture loader applies so tail languages aren't drowned out
    (the integer cousin of temperature sampling, exact in any engine).
    One hash agg + a 1-row max broadcast.
    """
    docs = _read(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    mx = counts.agg(F.max("n_docs").alias("max_n"))
    return (
        counts.crossJoin(F.broadcast(mx))
        .select(
            "lang",
            "n_docs",
            F.expr("least(4L, greatest(1L, max_n div n_docs))").alias(
                "factor"
            ),
            F.expr(
                "n_docs * least(4L, greatest(1L, max_n div n_docs))"
            ).alias("upsampled_n"),
        )
        .orderBy("lang")
    )


query("lang_upsampling_factors", q_lang_upsampling_factors, """
WITH counts AS (
  SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang
),
mx AS (SELECT max(n_docs)::BIGINT AS max_n FROM counts)
SELECT lang, n_docs,
  least(4, greatest(1, max_n // n_docs))::BIGINT AS factor,
  (n_docs * least(4, greatest(1, max_n // n_docs)))::BIGINT AS upsampled_n
FROM counts, mx ORDER BY lang
""")


# ---------------------------------------------------------------------------
# image near-duplicate pairs (exact integer feature distance)
# ---------------------------------------------------------------------------

_IMG_D2_MAX = 30000  # ~0.46 in unit-feature space, scaled by 128²


def q_multimodal_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image detection over the fake-decode feature
    vectors: the 8 md5-derived features are EXACTLY (h−128)/128 (a
    power-of-2 divisor, so float32-exact), so multiplying by 128 recovers
    integers and the pairwise squared distance is exact BIGINT — the
    threshold has no float boundary. The stubbed codec stands in for a
    real perceptual embedding; the pair stage, threshold semantics, and
    output contract are the production ones.

    Scale: candidates come from lossless banded grid blocking
    (`simsearch.int_vector_near_pairs` — pigeonhole bands over the
    coordinates + neighbor-cell equi-join), then the exact integer d2
    verify. Same rows as the all-pairs ground truth (the oracle keeps
    the exhaustive shape), no cartesian product in the plan.
    """
    from .operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    decoded = multimodal.decode_media(
        multimodal.synthesize_media(docs), fake=True
    )
    feats = decoded.filter(F.col("kind") == "image").select(
        "media_id",
        F.transform(
            "features", lambda x: F.round(x * 128).cast("long")
        ).alias("fi"),
    )
    return simsearch.int_vector_near_pairs(
        feats, max_d2=_IMG_D2_MAX, dims=8
    ).orderBy("id_a", "id_b")


query("multimodal_image_neardup", q_multimodal_image_neardup, f"""
WITH feats AS (
  SELECT doc_id AS media_id,
    list_transform(range(0, 8), i ->
      ('0x' || substr(md5(text), i * 2 + 1, 2))::BIGINT - 128) AS fi
  FROM documents WHERE doc_id % 3 = 0
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
  list_sum(list_transform(range(1, 9),
    k -> (a.fi[k] - b.fi[k]) * (a.fi[k] - b.fi[k])))::BIGINT AS d2
FROM feats a JOIN feats b ON a.media_id < b.media_id
WHERE list_sum(list_transform(range(1, 9),
    k -> (a.fi[k] - b.fi[k]) * (a.fi[k] - b.fi[k]))) <= {_IMG_D2_MAX}
ORDER BY id_a, id_b
""")


# ---------------------------------------------------------------------------
# video keyframe selection (per-bucket argmax of motion signal)
# ---------------------------------------------------------------------------


def q_multimodal_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe selection for video sampling: within each 30-frame bucket
    pick the frame with the LARGEST signature delta vs its predecessor
    (the highest-motion frame — what a trainer samples instead of blind
    every-Nth), tie → earliest frame. Same deterministic signature as
    scene cuts; per-video windows keep state inside one clip.
    """
    from .operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    decoded = multimodal.decode_media(
        multimodal.synthesize_media(docs), fake=True
    )
    deltas = (
        multimodal.frame_deltas(decoded)
        .withColumn("delta", F.coalesce("delta", F.lit(0).cast("long")))
        .withColumn("bucket", F.expr("frame_idx div 30"))
    )
    wk = Window.partitionBy("media_id", "bucket").orderBy(
        F.desc("delta"), F.asc("frame_idx")
    )
    return (
        deltas.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == 1)
        .select(
            "media_id",
            F.col("bucket").cast("long").alias("bucket"),
            F.col("frame_idx").alias("keyframe_idx"),
            "delta",
        )
        .orderBy("media_id", "bucket")
    )


query("multimodal_video_keyframes", q_multimodal_video_keyframes, """
WITH decoded AS (
  SELECT doc_id AS media_id,
    (1 + ('0x' || substr(md5(text), 1, 8))::BIGINT % 300)::INT AS n_frames
  FROM documents WHERE doc_id % 3 = 2
),
frames AS (
  SELECT media_id, f.frame_idx,
    ('0x' || substr(md5(media_id::VARCHAR || ':' || frame_idx::VARCHAR),
                    1, 5))::BIGINT AS sig
  FROM decoded, unnest(generate_series(0, n_frames - 1)) AS f(frame_idx)
),
deltas AS (
  SELECT media_id, frame_idx,
    coalesce(abs(sig - lag(sig) OVER (PARTITION BY media_id
                                      ORDER BY frame_idx)), 0) AS delta,
    frame_idx // 30 AS bucket
  FROM frames
)
SELECT media_id, bucket::BIGINT AS bucket, frame_idx AS keyframe_idx, delta
FROM (
  SELECT *, row_number() OVER (PARTITION BY media_id, bucket
                               ORDER BY delta DESC, frame_idx) AS rn
  FROM deltas
) WHERE rn = 1 ORDER BY media_id, bucket
""")


# ---------------------------------------------------------------------------
# dedup cluster-size histogram (dedup yield audit)
# ---------------------------------------------------------------------------


def q_dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield audit: histogram of connected-component sizes from the
    production MinHash-LSH clustering — (cluster_size → n_clusters) plus
    removable-doc count per size. THE number a dedup run reports: rows
    removed = Σ (size−1)·n_clusters. Composes the clusters query, so the
    audit tracks the real pipeline output.
    """
    clusters = q_dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "removable_docs"
            ),
        )
        .orderBy("cluster_size")
    )


def _cluster_histogram_oracle() -> str:
    clusters = QUERIES["dedup_clusters"].oracle.strip()
    return f"""
WITH clusters_t AS (SELECT * FROM ({clusters}) raw),
sizes AS (
  SELECT cluster_id, count(*)::BIGINT AS cluster_size
  FROM clusters_t GROUP BY cluster_id
)
SELECT cluster_size, count(*)::BIGINT AS n_clusters,
  ((cluster_size - 1) * count(*))::BIGINT AS removable_docs
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


query(
    "dedup_cluster_size_histogram", q_dedup_cluster_size_histogram,
    _cluster_histogram_oracle(),
)


# ---------------------------------------------------------------------------
# ANN MRR audit (rank-sensitive companion to recall)
# ---------------------------------------------------------------------------


def q_ann_mrr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sensitive index quality: for each query, where does the IVF
    path rank the TRUE top-1 neighbor (exact brute force)? Reciprocal
    rank is reported as 10000 div rank (integer-truncated — the metric is
    DEFINED that way here so every engine agrees), 0 when the true top-1
    is missing from the IVF top-10 entirely. Complements ann_recall_audit:
    recall says "found", MRR says "found EARLY".
    """
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact1 = (
        simsearch.cosine_topk(emb, queries, k=10)
        .filter(F.col("rank") == 1)
        .select("query_id", F.col("neighbor_id").alias("true_top1"))
    )
    ivf = simsearch.ivf_topk(emb, queries, k=10, n_probe=2).select(
        "query_id",
        F.col("neighbor_id").alias("ivf_neighbor"),
        F.col("rank").alias("ivf_rank"),
    )
    joined = exact1.join(
        F.broadcast(ivf),
        (exact1["query_id"] == ivf["query_id"])
        & (exact1["true_top1"] == ivf["ivf_neighbor"]),
        "left",
    ).select(
        exact1["query_id"].alias("query_id"),
        "true_top1",
        F.coalesce(
            F.expr("10000 div ivf_rank"), F.lit(0).cast("long")
        ).alias("rr_scaled"),
    )
    return joined.orderBy("query_id")


def _mrr_oracle() -> str:
    exact = QUERIES["ann_cosine_topk"].oracle.strip()
    ivf = QUERIES["ann_ivf_topk"].oracle.strip()
    return f"""
WITH exact_t AS ({exact}),
ivf_t AS ({ivf}),
exact1 AS (
  SELECT query_id, neighbor_id AS true_top1 FROM exact_t WHERE rank = 1
)
SELECT e.query_id, e.true_top1,
  coalesce(10000 // i.rank, 0)::BIGINT AS rr_scaled
FROM exact1 e LEFT JOIN ivf_t i
  ON e.query_id = i.query_id AND e.true_top1 = i.neighbor_id
ORDER BY e.query_id
"""


query("ann_mrr_audit", q_ann_mrr_audit, _mrr_oracle())


# ---------------------------------------------------------------------------
# two-stage retrieval cascade: int8 MaxSim prefilter → exact cosine rerank
# ---------------------------------------------------------------------------

_CASCADE_STAGE1_K = 50
_CASCADE_K = 5


def q_ann_cascade_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production retrieval cascade: a cheap int8 MaxSim stage keeps
    the top-50 candidates per query (4× smaller vectors, integer math),
    then exact float cosine re-ranks ONLY those 50 — the expensive scorer
    never touches the rest of the corpus. At 100 TB stage 1 is where the
    scan lives (quantized, broadcast queries); stage 2 is a candidate
    join bounded at |queries|·50 rows.
    """
    emb = _read(spark, sf_dir, "embeddings")
    codes = simsearch.quantize_int8(emb).select("vec_id", "codes")
    qcodes = (
        codes.filter(F.col("vec_id") % 100 == 0)
        .orderBy("vec_id")
        .limit(_QUERY_SET_LIMIT)
        .select(F.col("vec_id").alias("query_id"), F.col("codes").alias("qc"))
    )
    pairs = codes.crossJoin(F.broadcast(qcodes)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    score = F.expr(
        f"""
        aggregate(sequence(0, {_SUBVECS - 1}), 0L, (acc, i) -> acc +
          array_max(transform(sequence(0, {_SUBVECS - 1}), j ->
            aggregate(sequence(1, {_SUBDIM}), 0L, (a, k) ->
              a + CAST(element_at(qc, i * {_SUBDIM} + k) AS BIGINT)
                * CAST(element_at(codes, j * {_SUBDIM} + k) AS BIGINT)))))
        """
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("s1"), F.asc("neighbor_id")
    )
    cand = (
        pairs.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), score.alias("s1")
        )
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= _CASCADE_STAGE1_K)
        .select("query_id", "neighbor_id")
    )
    nvec = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
    )
    qvec = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("nv"), F.col("qv"), lambda x, y: x.cast("double") * y
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    rer = (
        cand.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot / (norm(F.col("nv")) * norm(F.col("qv")))).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= _CASCADE_K)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
        .orderBy("query_id", "rank")
    )


query("ann_cascade_rerank", q_ann_cascade_rerank, f"""
WITH stats AS (
  SELECT min(u.x)::DOUBLE AS qmin, max(u.x)::DOUBLE AS qmax
  FROM embeddings, unnest(embedding) AS u(x)
),
codes AS (
  SELECT vec_id,
    list_transform(embedding, x -> least(255, greatest(0,
      floor((x::DOUBLE - qmin) / (qmax - qmin) * 255.0)::INT))) AS codes
  FROM embeddings, stats
),
s1 AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
    list_sum(list_transform(range(0, {_SUBVECS}), i ->
      list_max(list_transform(range(0, {_SUBVECS}), j ->
        list_dot_product(
          q.codes[i * {_SUBDIM} + 1 : i * {_SUBDIM} + {_SUBDIM}]::BIGINT[],
          d.codes[j * {_SUBDIM} + 1 : j * {_SUBDIM} + {_SUBDIM}]::BIGINT[])
      ))))::BIGINT AS s1
  FROM codes d JOIN (SELECT * FROM codes WHERE vec_id % 100 = 0
                     ORDER BY vec_id LIMIT {_QUERY_SET_LIMIT}) q ON d.vec_id <> q.vec_id
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY s1 DESC, neighbor_id) AS r1
    FROM s1
  ) WHERE r1 <= {_CASCADE_STAGE1_K}
),
rer AS (
  SELECT c.query_id, c.neighbor_id,
    list_dot_product(n.embedding::DOUBLE[], q.embedding::DOUBLE[])
      / (sqrt(list_dot_product(n.embedding::DOUBLE[], n.embedding::DOUBLE[]))
         * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])))
      AS cosine
  FROM cand c
  JOIN embeddings n ON c.neighbor_id = n.vec_id
  JOIN embeddings q ON c.query_id = q.vec_id
)
SELECT query_id, neighbor_id, rank::INT AS rank FROM (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rer
) WHERE rank <= {_CASCADE_K} ORDER BY query_id, rank
""")


# ---------------------------------------------------------------------------
# MinHash estimate-accuracy calibration (signature agreement vs exact J)
# ---------------------------------------------------------------------------


def q_minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration: for every LSH candidate pair, how well does
    the 16-hash MinHash agreement fraction track the EXACT Jaccard?
    Bucketed by matched-signature count: pair count + mean exact Jaccard
    in integer bps. This is the audit that justifies the sketch size —
    widening buckets (high variance) says 16 hashes is too few for the
    threshold in use. Exact Jaccard is candidate-restricted (the
    production path), never the n² pair space.
    """
    from .extra_queries import _lsh_candidates, _shingles
    from .operators import dedup

    sh = _shingles(spark, sf_dir)
    cand = _lsh_candidates(spark, sf_dir)
    sigs = dedup.minhash_signatures(sh, num_hashes=16)
    sa = sigs.select(
        F.col("id").alias("id_a"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(16)],
    )
    sb = sigs.select(
        F.col("id").alias("id_b"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(16)],
    )
    matched = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(16)
    )
    exact = dedup.jaccard_pairs(sh, min_jaccard=0.0, candidates=cand).select(
        "id_a", "id_b", "shared", "union_size"
    )
    pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", matched.alias("matched_sigs"))
        .join(exact, ["id_a", "id_b"])
        .select(
            "matched_sigs",
            F.expr("shared * 10000 div union_size").alias("exact_bps"),
        )
    )
    return (
        pairs.groupBy("matched_sigs")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("sum(exact_bps) div count(1)").alias("mean_exact_bps"),
        )
        .orderBy("matched_sigs")
    )


def _minhash_accuracy_oracle() -> str:
    matched = " + ".join(
        f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END"
        for i in range(16)
    )
    return f"""
WITH {_SHINGLES_SQL.strip().lstrip(',')},
sigs AS ({_MINHASH_SQL}),
buckets AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
),
{_JACCARD_CORE_SQL.strip().lstrip(',')},
pairs AS (
  SELECT ({matched}) AS matched_sigs,
    j.shared * 10000 // j.union_size AS exact_bps
  FROM cand c
  JOIN sigs a ON c.id_a = a.id
  JOIN sigs b ON c.id_b = b.id
  JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
)
SELECT matched_sigs::BIGINT AS matched_sigs, count(*)::BIGINT AS n_pairs,
  (sum(exact_bps) // count(*))::BIGINT AS mean_exact_bps
FROM pairs GROUP BY matched_sigs ORDER BY matched_sigs
"""


query(
    "minhash_estimate_accuracy", q_minhash_estimate_accuracy, _minhash_accuracy_oracle()
)


# ---------------------------------------------------------------------------
# t-closeness audit (completes the k-anonymity / l-diversity privacy triad)
# ---------------------------------------------------------------------------

_TCLOSE_ALERT_BPS = 3000


def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness over the SAME quasi-identifier classes as
    k_anonymity_audit (nation × balance band, sensitive = market
    segment): per class, the total-variation distance between the class's
    sensitive-value distribution and the global one, kept exact by cross-
    multiplication — t_scaled = Σ_s |n_cs·N − N_s·n_c| over 2·n_c·N, in
    integer bps. A class can be k-anonymous and l-diverse yet still leak
    via a skewed sensitive distribution; this is the gate for that.

    Scale: everything after the first map-combinable agg is
    dimension-sized (classes × |segments|); the global distribution is a
    |segments|-row broadcast.
    """
    cust = _read(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.expr("cast(c_acctbal * 100 as bigint) div 100000").alias("bal_band"),
        "c_mktsegment",
    )
    cls_seg = cust.groupBy("c_nationkey", "bal_band", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cs")
    )
    cls = cls_seg.groupBy("c_nationkey", "bal_band").agg(
        F.sum("n_cs").alias("n_c")
    )
    seg = cust.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_s"))
    total = cust.agg(F.count(F.lit(1)).alias("n_tot"))
    grid = (
        cls.crossJoin(F.broadcast(seg))
        .join(cls_seg, ["c_nationkey", "bal_band", "c_mktsegment"], "left")
        .fillna(0, subset=["n_cs"])
        .crossJoin(F.broadcast(total))
    )
    per_class = grid.groupBy("c_nationkey", "bal_band", "n_c", "n_tot").agg(
        F.sum(
            F.abs(F.col("n_cs") * F.col("n_tot") - F.col("n_s") * F.col("n_c"))
        ).alias("t_scaled")
    ).select(
        "c_nationkey",
        "bal_band",
        F.expr("t_scaled * 10000 div (2 * n_c * n_tot)").alias("t_bps"),
    )
    return per_class.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.max("t_bps").alias("max_t_bps"),
        F.count(F.when(F.col("t_bps") > _TCLOSE_ALERT_BPS, 1))
        .cast("long")
        .alias("n_classes_over_t"),
    )


query("t_closeness_audit", q_t_closeness_audit, f"""
WITH cust AS (
  SELECT c_nationkey,
    (c_acctbal * 100)::BIGINT // 100000 AS bal_band, c_mktsegment
  FROM customer
),
cls_seg AS (
  SELECT c_nationkey, bal_band, c_mktsegment, count(*)::BIGINT AS n_cs
  FROM cust GROUP BY ALL
),
cls AS (
  SELECT c_nationkey, bal_band, sum(n_cs)::BIGINT AS n_c
  FROM cls_seg GROUP BY c_nationkey, bal_band
),
seg AS (SELECT c_mktsegment, count(*)::BIGINT AS n_s FROM cust GROUP BY 1),
tot AS (SELECT count(*)::BIGINT AS n_tot FROM cust),
grid AS (
  SELECT c.c_nationkey, c.bal_band, c.n_c, s.c_mktsegment, s.n_s,
    coalesce(cs.n_cs, 0) AS n_cs, t.n_tot
  FROM cls c CROSS JOIN seg s CROSS JOIN tot t
  LEFT JOIN cls_seg cs ON c.c_nationkey = cs.c_nationkey
    AND c.bal_band = cs.bal_band AND s.c_mktsegment = cs.c_mktsegment
),
per_class AS (
  SELECT c_nationkey, bal_band,
    (sum(abs(n_cs * n_tot - n_s * n_c)) * 10000
     // (2 * n_c * n_tot))::BIGINT AS t_bps
  FROM grid GROUP BY c_nationkey, bal_band, n_c, n_tot
)
SELECT count(*)::BIGINT AS n_classes, max(t_bps) AS max_t_bps,
  count(CASE WHEN t_bps > {_TCLOSE_ALERT_BPS} THEN 1 END)::BIGINT
    AS n_classes_over_t
FROM per_class
""")


# ---------------------------------------------------------------------------
# degree-distribution audit of the purchase graph
# ---------------------------------------------------------------------------


def q_graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the undirected customer–supplier purchase
    graph — the first thing to look at before running ANY iterative graph
    algorithm (max degree bounds join fan-out; a power-law tail says
    salt the hot keys). One distinct + two hash aggs.
    """
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(10_000_000)).alias("dst"),
        )
        .distinct()
    )
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


query("graph_degree_distribution", q_graph_degree_distribution, """
WITH e0 AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
und AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
deg AS (SELECT src, count(*)::BIGINT AS degree FROM und GROUP BY src)
SELECT degree, count(*)::BIGINT AS n_nodes
FROM deg GROUP BY degree ORDER BY degree
""")


# ---------------------------------------------------------------------------
# event-rate spike audit (exact integer Poisson-style bound)
# ---------------------------------------------------------------------------


def q_event_rate_spike_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-anomaly gate: hourly event counts flagged when the squared
    deviation from the global mean exceeds 16× the Poisson variance —
    cross-multiplied so no float mean/sqrt exists: spike iff
    (c·H − N)² > 16·N·H (c = hour count, N = total, H = hours). The
    ingestion-monitoring alarm, exact in any engine; one keyed agg plus a
    1-row totals broadcast.
    """
    ev = _read(spark, sf_dir, "events").select(
        F.expr("unix_millis(CAST(ts AS TIMESTAMP)) div 3600000").alias("hour")
    )
    hourly = ev.groupBy("hour").agg(F.count(F.lit(1)).alias("c"))
    totals = hourly.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("n_hours")
    )
    flagged = hourly.crossJoin(F.broadcast(totals)).select(
        "hour",
        "c",
        (
            (F.col("c") * F.col("n_hours") - F.col("n_total"))
            * (F.col("c") * F.col("n_hours") - F.col("n_total"))
            > F.lit(16) * F.col("n_total") * F.col("n_hours")
        ).alias("is_spike"),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(F.when(F.col("is_spike"), 1).otherwise(0))
        .cast("long")
        .alias("n_spike_hours"),
        F.max(F.when(F.col("is_spike"), F.col("c"))).alias("max_spike_count"),
    )


query("event_rate_spike_audit", q_event_rate_spike_audit, """
WITH hourly AS (
  SELECT epoch(ts)::BIGINT // 3600 AS hour, count(*)::BIGINT AS c
  FROM events GROUP BY 1
),
tot AS (
  SELECT sum(c)::BIGINT AS n_total, count(*)::BIGINT AS n_hours FROM hourly
),
flagged AS (
  SELECT hour, c,
    (c * n_hours - n_total) * (c * n_hours - n_total)
      > 16 * n_total * n_hours AS is_spike
  FROM hourly, tot
)
SELECT count(*)::BIGINT AS n_hours,
  sum(CASE WHEN is_spike THEN 1 ELSE 0 END)::BIGINT AS n_spike_hours,
  max(CASE WHEN is_spike THEN c END) AS max_spike_count
FROM flagged
""")


# ---------------------------------------------------------------------------
# order backlog aging buckets
# ---------------------------------------------------------------------------


def q_order_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: non-finished orders bucketed by age in
    days against the dataset's as-of date (its max order date — data-
    derived, so the query is reproducible forever), with exact-cent value
    at risk per bucket. The receivables/ops dashboard staple; one scan,
    1-row as-of broadcast, one hash agg.
    """
    orders = _read(spark, sf_dir, "orders")
    asof = orders.agg(F.max("o_orderdate").alias("asof"))
    aged = (
        orders.filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(asof))
        .select(
            F.expr("datediff(asof, o_orderdate)").alias("age_days"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 60, "31-60")
        .when(F.col("age_days") <= 90, "61-90")
        .otherwise("90+")
    )
    return (
        aged.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("value_cents"),
        )
        .orderBy("bucket")
    )


query("order_backlog_aging", q_order_backlog_aging, """
WITH asof_t AS (SELECT max(o_orderdate) AS asof_d FROM orders),
aged AS (
  SELECT datediff('day', o_orderdate, asof_d)::BIGINT AS age_days,
    floor(o_totalprice * 100)::BIGINT AS cents
  FROM orders, asof_t WHERE o_orderstatus <> 'F'
)
SELECT CASE WHEN age_days <= 30 THEN '0-30'
            WHEN age_days <= 60 THEN '31-60'
            WHEN age_days <= 90 THEN '61-90'
            ELSE '90+' END AS bucket,
  count(*)::BIGINT AS n_orders, sum(cents)::BIGINT AS value_cents
FROM aged GROUP BY 1 ORDER BY bucket
""")


# ---------------------------------------------------------------------------
# bigram successor table (the corpus LM itself, top-k per context)
# ---------------------------------------------------------------------------


def q_bigram_successor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The n-gram LM table: for the 20 most frequent context words, the
    top-3 successors by corpus count (ties → lexicographic) with the
    conditional probability in integer bps. bigram_lm_quality SCORES
    documents against corpus statistics; this materializes the model
    itself — the artifact a generation-side smoke test reads.

    Scale: successor counts shuffle on (w1, w2) — vocab²-bounded; both
    top-k windows partition on w1, never global.
    """
    docs = _read(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    d = docs.select(F.split(norm, " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = d.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (x, i) -> struct(x AS w1, toks[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select(F.col("bg.w1"), F.col("bg.w2"))
    succ = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    ctx = succ.groupBy("w1").agg(F.sum("n").alias("n_ctx"))
    top_ctx = (
        ctx.orderBy(F.desc("n_ctx"), F.asc("w1")).limit(20)
    )
    w = Window.partitionBy("w1").orderBy(F.desc("n"), F.asc("w2"))
    return (
        succ.join(F.broadcast(top_ctx), "w1")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "w1",
            F.col("rk").cast("int").alias("rk"),
            "w2",
            "n",
            F.expr("n * 10000 div n_ctx").alias("p_bps"),
        )
        .orderBy("w1", "rk")
    )


query("bigram_successor_topk", q_bigram_successor_topk, """
WITH d AS (
  SELECT string_split(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
  WHERE len(string_split(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) >= 2
),
bg AS (
  SELECT toks[u.i] AS w1, toks[u.i + 1] AS w2
  FROM d, unnest(range(1, len(toks))) AS u(i)
),
succ AS (SELECT w1, w2, count(*)::BIGINT AS n FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, sum(n)::BIGINT AS n_ctx FROM succ GROUP BY w1),
top_ctx AS (SELECT w1, n_ctx FROM ctx ORDER BY n_ctx DESC, w1 LIMIT 20)
SELECT s.w1, rk::INT AS rk, w2, n, (n * 10000 // n_ctx)::BIGINT AS p_bps
FROM (
  SELECT s.w1, s.w2, s.n, t.n_ctx,
    row_number() OVER (PARTITION BY s.w1 ORDER BY s.n DESC, s.w2) AS rk
  FROM succ s JOIN top_ctx t ON s.w1 = t.w1
) s(w1, w2, n, n_ctx, rk)
WHERE rk <= 3 ORDER BY w1, rk
""")


# ---------------------------------------------------------------------------
# positive-pair mining (same-label nearest neighbor)
# ---------------------------------------------------------------------------


def q_positive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The positive side of contrastive pair construction: each query's
    highest-ranked SAME-label neighbor from the exact retriever — the
    (anchor, positive) training pair; hard_negative_mining supplies the
    other side. Pure composition, so pairs track the production index.
    """
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    topk = simsearch.cosine_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id", "rank"
    )
    labels = emb.select("vec_id", "label")
    qlab = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    nlab = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    same = (
        topk.join(F.broadcast(qlab), "query_id")
        .join(nlab, "neighbor_id")
        .filter(F.col("q_label") == F.col("n_label"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("rank"))
    return (
        same.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("positive_id"),
            F.col("rank").alias("retriever_rank"),
            F.col("q_label").alias("label"),
        )
        .orderBy("query_id")
    )


def _positive_pair_oracle() -> str:
    exact = QUERIES["ann_cosine_topk"].oracle.strip()
    return f"""
WITH topk AS ({exact})
SELECT query_id, positive_id, retriever_rank, label FROM (
  SELECT t.query_id, t.neighbor_id AS positive_id,
    t.rank AS retriever_rank, q.label,
    row_number() OVER (PARTITION BY t.query_id ORDER BY t.rank) AS rn
  FROM topk t
  JOIN embeddings q ON t.query_id = q.vec_id
  JOIN embeddings n ON t.neighbor_id = n.vec_id
  WHERE q.label = n.label
) WHERE rn = 1 ORDER BY query_id
"""


query("positive_pair_mining", q_positive_pair_mining, _positive_pair_oracle())


# ---------------------------------------------------------------------------
# embedding dimension variance audit (dead-feature detection)
# ---------------------------------------------------------------------------


def q_embedding_dim_variance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead/near-constant dimension detection over int8 codes: per
    dimension the exact integer variance numerator n·Σx² − S² (no float
    mean), flagged when it falls under 1% of the corpus-wide median-ish
    reference (the max dim's numerator). Dims a projection layer should
    drop; 64 output rows regardless of corpus size.
    """
    emb = _read(spark, sf_dir, "embeddings")
    codes = simsearch.quantize_int8(emb).select("codes")
    dims = codes.select(F.posexplode("codes").alias("d", "x"))
    per_dim = dims.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast("long") * F.col("x")).alias("s2"),
    ).select(
        "d", F.expr("n * s2 - s * s").alias("var_num")
    )
    mx = per_dim.agg(F.max("var_num").alias("max_var"))
    return (
        per_dim.crossJoin(F.broadcast(mx))
        .select(
            "d",
            "var_num",
            (F.col("var_num") * 100 < F.col("max_var")).alias("is_dead"),
        )
        .orderBy("d")
    )


query("embedding_dim_variance_audit", q_embedding_dim_variance_audit, """
WITH stats AS (
  SELECT min(u.x)::DOUBLE AS qmin, max(u.x)::DOUBLE AS qmax
  FROM embeddings, unnest(embedding) AS u(x)
),
codes AS (
  SELECT list_transform(embedding, x -> least(255, greatest(0,
      floor((x::DOUBLE - qmin) / (qmax - qmin) * 255.0)::INT))) AS codes
  FROM embeddings, stats
),
dims AS (
  SELECT d.d - 1 AS d, codes[d.d]::BIGINT AS x
  FROM codes, unnest(range(1, 65)) AS d(d)
),
per_dim AS (
  SELECT d, (count(*) * sum(x * x) - sum(x) * sum(x))::BIGINT AS var_num
  FROM dims GROUP BY d
),
mx AS (SELECT max(var_num)::BIGINT AS max_var FROM per_dim)
SELECT d::INT AS d, var_num, var_num * 100 < max_var AS is_dead
FROM per_dim, mx ORDER BY d
""")


# ---------------------------------------------------------------------------
# IVF probe sweep (the recall-vs-cost knob, measured)
# ---------------------------------------------------------------------------


def q_ann_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess, part 3: mean recall@10 (integer bps) of the
    IVF index at n_probe ∈ {1, 2, 3} against exact brute force — the
    table that picks the operating point on the recall/cost curve before
    a 100 TB rollout. Each arm is bounded at |queries|·k rows.
    """
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = simsearch.cosine_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    out = None
    for p in (1, 2, 3):
        ivf = simsearch.ivf_topk(emb, queries, k=10, n_probe=p).select(
            "query_id", F.col("neighbor_id").alias("ivf_neighbor")
        )
        hits = exact.join(
            F.broadcast(ivf),
            (exact["query_id"] == ivf["query_id"])
            & (exact["neighbor_id"] == ivf["ivf_neighbor"]),
            "left",
        ).select(
            F.when(F.col("ivf_neighbor").isNotNull(), 1).otherwise(0).alias("hit")
        )
        arm = hits.agg(
            F.lit(p).cast("int").alias("n_probe"),
            F.expr("sum(hit) * 10000 div count(1)").alias("mean_recall_bps"),
        ).select("n_probe", "mean_recall_bps")
        out = arm if out is None else out.unionByName(arm)
    return out.orderBy("n_probe")


def _probe_sweep_oracle() -> str:
    exact = QUERIES["ann_cosine_topk"].oracle.strip()
    ivf2 = QUERIES["ann_ivf_topk"].oracle.strip()
    arms = []
    for p in (1, 2, 3):
        ivf_p = ivf2.replace("WHERE pr <= 2", f"WHERE pr <= {p}")
        arms.append(f"""
SELECT {p}::INT AS n_probe,
  (sum(CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END) * 10000
   // count(*))::BIGINT AS mean_recall_bps
FROM exact_t e LEFT JOIN ({ivf_p}) i
  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id""")
    union = " UNION ALL ".join(arms)
    return f"""
WITH exact_t AS ({exact})
SELECT * FROM ({union}) ORDER BY n_probe
"""


query("ann_probe_sweep", q_ann_probe_sweep, _probe_sweep_oracle())


# ---------------------------------------------------------------------------
# IVF over a partition-pruned parquet index
# ---------------------------------------------------------------------------


def _ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """The label-partitioned IVF index of ``sf_dir``, written once per session."""

    def build() -> str:
        path = cache.scratch(spark, "ivf_index_")
        simsearch.write_ivf_partitioned(_read(spark, sf_dir, "embeddings"), path)
        return path

    return cache.memo(spark, ("ivf_index", sf_dir), build)


def q_ann_ivf_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage-side ANN path: the IVF lists live as label-partitioned
    parquet (write once), and the probe reads ONLY the probed partitions
    — catalog-enforced pruning, not a post-scan filter (plan-asserted in
    tests/test_plans.py). Same rows as ann_ivf_topk; the oracle is the
    same SQL, which is the point: layout changed, semantics didn't.
    """
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    path = _ivf_index(spark, sf_dir)
    return simsearch.ivf_topk_from_partitioned(
        spark, path, queries, k=10, n_probe=2, schema=emb.schema
    ).orderBy("query_id", "rank")


def _ivf_pruned_oracle() -> str:
    return QUERIES["ann_ivf_topk"].oracle


query("ann_ivf_partition_pruned", q_ann_ivf_partition_pruned, _ivf_pruned_oracle())


# ---------------------------------------------------------------------------
# cross-method dedup agreement (MinHash-Jaccard vs SimHash consensus)
# ---------------------------------------------------------------------------


def q_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble dedup audit: how much do the two production near-dup
    detectors agree? Pairs found by MinHash-LSH (Jaccard ≥ 0.2) vs
    SimHash (Hamming ≤ 6): counts of both/minhash-only/simhash-only.
    Low agreement means the two 'near-duplicate' definitions have drifted
    apart and the removal policy needs a decision, not a default. Pure
    composition of both production paths + one full-outer join on pair
    keys.
    """
    mh = q_dedup_minhash_lsh(spark, sf_dir).select(
        "id_a", "id_b", F.lit(1).alias("in_mh")
    )
    sh = q_dedup_simhash_pairs(spark, sf_dir).select(
        "id_a", "id_b", F.lit(1).alias("in_sh")
    )
    both = mh.join(sh, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_mh", F.lit(0)).alias("in_mh"),
        F.coalesce("in_sh", F.lit(0)).alias("in_sh"),
    )
    return both.agg(
        F.sum(F.expr("in_mh * in_sh")).cast("long").alias("n_both"),
        F.sum(F.expr("in_mh * (1 - in_sh)")).cast("long").alias("n_minhash_only"),
        F.sum(F.expr("(1 - in_mh) * in_sh")).cast("long").alias("n_simhash_only"),
    )


def _method_agreement_oracle() -> str:
    mh = QUERIES["dedup_minhash_lsh"].oracle.strip()
    sh = QUERIES["dedup_simhash_pairs"].oracle.strip()
    return f"""
WITH mh_t AS (SELECT id_a, id_b FROM ({mh})),
sh_t AS (SELECT id_a, id_b FROM ({sh})),
j AS (
  SELECT CASE WHEN m.id_a IS NULL THEN 0 ELSE 1 END AS in_mh,
         CASE WHEN s.id_a IS NULL THEN 0 ELSE 1 END AS in_sh
  FROM mh_t m FULL OUTER JOIN sh_t s
    ON m.id_a = s.id_a AND m.id_b = s.id_b
)
SELECT sum(in_mh * in_sh)::BIGINT AS n_both,
  sum(in_mh * (1 - in_sh))::BIGINT AS n_minhash_only,
  sum((1 - in_mh) * in_sh)::BIGINT AS n_simhash_only
FROM j
"""


query("dedup_method_agreement", q_dedup_method_agreement, _method_agreement_oracle())


# ---------------------------------------------------------------------------
# quantization error-bound gate (pinned invariant)
# ---------------------------------------------------------------------------


def q_quantization_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety gate for the int8 ANN path: the max reconstruction error of
    the quantizer must stay within one quantization cell
    (scale/255 — floor mapping + midpoint dequant). Output pins the
    boolean (like hll_accuracy_audit): the oracle expects literal TRUE,
    so quantizer drift FAILS the hash gate rather than silently degrading
    every downstream similarity query.
    """
    emb = _read(spark, sf_dir, "embeddings")
    q = simsearch.quantize_int8(emb)
    err = q.select(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                simsearch.dequantized(q),
                lambda x, d: F.abs(x.cast("double") - d),
            ),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, v),
        ).alias("max_err"),
        (F.col("q_scale") / F.lit(255.0)).alias("cell"),
    )
    return err.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.max(F.col("max_err") <= F.col("cell")).alias("within_bound"),
    )


query("quantization_error_bound", q_quantization_error_bound, """
SELECT count(*)::BIGINT AS n_vectors, TRUE AS within_bound FROM embeddings
""")


# ---------------------------------------------------------------------------
# grouped exact quartiles (per-type box-plot table, rank-defined)
# ---------------------------------------------------------------------------


def q_grouped_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exact quartiles in integer cents, DEFINED by rank
    (value at row ⌈q·n⌉ of the (value, event_id)-sorted group — the
    discrete quantile, so there is no interpolation float and both
    engines pick the identical row). The box-plot table per category;
    one window per group partition, no global sort.

    De-weakened r5 (VERDICT r4 task 3): the row_number + whole-partition
    count windows on the ~5-value event_type key were one ~20 TB sort
    task per type at the 100 TB scale, and the rank filter is
    POSITION-equality (rn = f(n)), which WindowGroupLimit cannot bound.
    The partitioned two-phase rank supplies identical (rn, n) per type
    with hashpartitioning(type, bucket) parallelism instead.
    """
    from .operators.scale import global_order_rank

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    ranked = global_order_rank(
        ev, "cents", ["event_id"], partition_cols=["event_type"]
    ).select(
        "event_type",
        "cents",
        F.col("rn").cast("int").alias("rn"),
        F.col("n_total").alias("n"),
    )
    picks = ranked.filter(
        (F.col("rn") == F.expr("(n + 3) div 4"))
        | (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("(3 * n + 3) div 4"))
    )
    return (
        picks.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.min(
                F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("cents"))
            ).alias("p25_cents"),
            F.min(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("cents"))
            ).alias("p50_cents"),
            F.min(
                F.when(
                    F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("cents")
                )
            ).alias("p75_cents"),
        )
        .orderBy("event_type")
    )


query("grouped_quartiles", q_grouped_quartiles, """
WITH ev AS (
  SELECT event_type, event_id, floor(value * 100)::BIGINT AS cents
  FROM events
),
ranked AS (
  SELECT event_type, cents,
    row_number() OVER (PARTITION BY event_type
                       ORDER BY cents, event_id) AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
)
SELECT event_type, max(n)::BIGINT AS n,
  min(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS p25_cents,
  min(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_cents,
  min(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS p75_cents
FROM ranked
WHERE rn = (n + 3) // 4 OR rn = (n + 1) // 2 OR rn = (3 * n + 3) // 4
GROUP BY event_type ORDER BY event_type
""")


# ---------------------------------------------------------------------------
# model lineage edges (the dbt-graph as data)
# ---------------------------------------------------------------------------


def q_model_lineage_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry's dependency graph as a queryable table — what
    `dbt ls`/`dbt docs` expose: one (model, dependency) edge per row.
    The oracle is generated FROM the same registry at import time, so a
    model wiring change shows up as a hash mismatch (lineage is part of
    the contract, not just code).
    """
    from . import models  # noqa: F401 — ensure registrations
    from .registry import REGISTRY

    rows = sorted(
        (name, dep)
        for name, m in REGISTRY.models.items()
        for dep in m.deps
    )
    return spark.createDataFrame(rows, "model string, dependency string").orderBy(
        "model", "dependency"
    )


def _lineage_oracle() -> str:
    from . import models  # noqa: F401
    from .registry import REGISTRY

    rows = sorted(
        (name, dep)
        for name, m in REGISTRY.models.items()
        for dep in m.deps
    )
    values = ", ".join(f"('{m}', '{d}')" for m, d in rows)
    return f"""
SELECT * FROM (VALUES {values}) AS t(model, dependency)
ORDER BY model, dependency
"""


query("model_lineage_edges", q_model_lineage_edges, _lineage_oracle())


# ---------------------------------------------------------------------------
# multi-format federation join (parquet ⋈ JSONL ⋈ ORC in one plan)
# ---------------------------------------------------------------------------


def q_federated_multiformat_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federation smoke: events round-tripped through the JSONL sink,
    customers through ORC, joined against native parquet nation — three
    formats in ONE plan, proving the source layer is transport, not
    semantics (the oracle reads only the original parquet). Writes land
    once per session in a scratch dir; the join itself broadcasts the dims.
    """
    from .sources import ingest

    def build() -> str:
        root = cache.scratch(spark, "fed_")
        events = _read(spark, sf_dir, "events")
        ingest.write_jsonl(
            events.select(
                "event_id",
                "user_id",
                "event_type",
                F.floor(F.col("value") * 100).cast("long").alias("cents"),
            ),
            f"{root}/events",
        )
        customer = _read(spark, sf_dir, "customer")
        ingest.write_orc(
            customer.select("c_custkey", "c_nationkey"), f"{root}/customer"
        )
        return root

    root = cache.memo(spark, ("federated", sf_dir), build)
    ev_schema = "event_id BIGINT, user_id BIGINT, event_type STRING, cents BIGINT"
    ev_jsonl = ingest.read_jsonl(spark, f"{root}/events", schema=ev_schema)
    cu_orc = ingest.read_orc(spark, f"{root}/customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        ev_jsonl.join(
            F.broadcast(cu_orc), ev_jsonl["user_id"] == cu_orc["c_custkey"]
        )
        .join(
            F.broadcast(nation),
            cu_orc["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("n_name", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("n_name", "event_type")
    )


query("federated_multiformat_join", q_federated_multiformat_join, """
SELECT n_name, event_type, count(*)::BIGINT AS n_events,
  sum(floor(value * 100)::BIGINT)::BIGINT AS sum_cents
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n_name, event_type ORDER BY n_name, event_type
""")


# ---------------------------------------------------------------------------
# incremental append to the partitioned IVF index
# ---------------------------------------------------------------------------


def q_ann_ivf_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance without rebuild: the historical corpus
    (vec_id % 5 != 0) is written list-partitioned, the new batch
    (% 5 == 0) lands as an APPEND into the same partitions (new files,
    untouched old ones), and the probe over the combined index returns
    exactly what a full rebuild would — the oracle IS the full-corpus IVF
    SQL. At 100 TB this is the difference between an hourly index refresh
    and an hourly full rewrite.
    """
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def build() -> str:
        path = cache.scratch(spark, "ivf_incr_")
        simsearch.write_ivf_partitioned(emb.filter(F.col("vec_id") % 5 != 0), path)
        emb.filter(F.col("vec_id") % 5 == 0).write.mode("append").partitionBy(
            "label"
        ).parquet(path)
        return path

    path = cache.memo(spark, ("ivf_incr", sf_dir), build)
    return simsearch.ivf_topk_from_partitioned(
        spark, path, queries, k=10, n_probe=2, schema=emb.schema
    ).orderBy("query_id", "rank")


def _ivf_incremental_oracle() -> str:
    return QUERIES["ann_ivf_topk"].oracle


query(
    "ann_ivf_incremental_append", q_ann_ivf_incremental_append,
    _ivf_incremental_oracle(),
)


# ---------------------------------------------------------------------------
# SQL-defined UDF + Arrow-optimized Python UDF surface
# ---------------------------------------------------------------------------


def q_sql_udf_order_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last two UDF surfaces: a Spark 4 SQL scalar UDF (CREATE
    FUNCTION … RETURN — body inlined by Catalyst, so it optimizes like a
    plain expression and costs nothing vs a Column) and an Arrow-
    optimized Python UDF (@udf(useArrow=True) — batch-serialized, the
    fast lane when Python truly is required). Both compute order value
    tiers; counts + exact cents per tier.
    """
    from pyspark.sql.functions import udf

    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION order_cents(v DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(v * 100) AS BIGINT)"
    )

    @udf(returnType="long", useArrow=True)
    def tier(cents):
        if cents is None:
            return 0
        if cents >= 20_000_000:
            return 3
        if cents >= 10_000_000:
            return 2
        return 1

    orders = _read(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_orders_udf_v")
    cents = spark.sql(
        "SELECT order_cents(o_totalprice) AS cents FROM _orders_udf_v"
    )
    return (
        cents.withColumn("tier", tier(F.col("cents")))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("tier")
    )


query("sql_udf_order_tiers", q_sql_udf_order_tiers, """
WITH cents AS (SELECT floor(o_totalprice * 100)::BIGINT AS cents FROM orders)
SELECT CASE WHEN cents >= 20000000 THEN 3
            WHEN cents >= 10000000 THEN 2 ELSE 1 END::BIGINT AS tier,
  count(*)::BIGINT AS n_orders, sum(cents)::BIGINT AS sum_cents
FROM cents GROUP BY 1 ORDER BY tier
""")


# ---------------------------------------------------------------------------
# polymorphic UDTF (plan-time schema via analyze)
# ---------------------------------------------------------------------------


def q_udtf_polymorphic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic table function: `pick_stats_udtf(TABLE(…) PARTITION BY
    user_id, 'min,max,sum')` — the OUTPUT SCHEMA (one column per
    requested stat) is computed at PLAN time by the UDTF's static
    ``analyze`` from the literal argument. Completes the Spark 4 UDTF
    surface next to the static-schema TABLE-argument UDTFs. Shuffles once
    on the partition key, O(group) state.
    """
    from .operators.udtfs import register_polymorphic_udtf

    register_polymorphic_udtf(spark)
    ev = _read(spark, sf_dir, "events").selectExpr(
        "user_id", "cast(floor(value * 100) as long) as cents"
    )
    ev.createOrReplaceTempView("_poly_udtf_events")
    return spark.sql(
        """
        SELECT * FROM pick_stats_udtf(
          TABLE(SELECT user_id, cents FROM _poly_udtf_events)
            PARTITION BY user_id ORDER BY (cents),
          'min,max,sum')
        ORDER BY user_id
        """
    )


query("udtf_polymorphic_stats", q_udtf_polymorphic_stats, """
SELECT user_id, min(cents) AS min_cents, max(cents) AS max_cents,
  sum(cents)::BIGINT AS sum_cents
FROM (SELECT user_id, floor(value * 100)::BIGINT AS cents FROM events)
GROUP BY user_id ORDER BY user_id
""")


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4 |> operators)
# ---------------------------------------------------------------------------


def q_sql_pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax: the open-order revenue rollup written as
    a `|>` pipeline (FROM … |> WHERE … |> EXTEND … |> AGGREGATE … |>
    ORDER BY) — same Catalyst plan as the classic form, but the query
    reads in dataflow order. Included so a user migrating pipe-syntax SQL
    has a checked example; the oracle is the classic-syntax equivalent.
    """
    orders = _read(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_pipe_orders_v")
    return spark.sql(
        """
        FROM _pipe_orders_v
        |> WHERE o_orderstatus <> 'F'
        |> EXTEND cast(floor(o_totalprice * 100) as bigint) AS cents
        |> AGGREGATE count(*) AS n_orders, sum(cents) AS sum_cents
             GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


query("sql_pipe_syntax_revenue", q_sql_pipe_syntax_revenue, """
SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
  sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM orders WHERE o_orderstatus <> 'F'
GROUP BY o_orderpriority ORDER BY o_orderpriority
""")


# ---------------------------------------------------------------------------
# quality-aware canonical selection for dedup clusters
# ---------------------------------------------------------------------------


def q_dedup_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention POLICY on top of clustering: within each near-dup
    cluster keep the highest-quality document (quality desc, id asc —
    total order), not the arbitrary min-id canonical. Output is one row
    per cluster with the kept doc and the count removed — what the
    dedup stage actually ships downstream. Pure composition of the
    production clustering and quality scorer.
    """
    clusters = q_dedup_clusters(spark, sf_dir).select(
        "id", "cluster_id"
    )
    quality = text.quality_score(_read(spark, sf_dir, "documents")).select(
        "id", "quality"
    )
    joined = clusters.join(quality, "id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("id"))).alias("kept_id"),
            F.min(F.when(F.col("rn") == 1, F.col("quality"))).alias(
                "kept_quality"
            ),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_removed"),
        )
        .orderBy("cluster_id")
    )


def _canonical_quality_oracle() -> str:
    clusters = QUERIES["dedup_clusters"].oracle.strip()
    quality = QUERIES["text_quality_score"].oracle.strip()
    return f"""
WITH clusters_t AS (SELECT id, cluster_id FROM ({clusters}) c),
qual AS (SELECT id, quality FROM ({quality}) q),
ranked AS (
  SELECT c.cluster_id, c.id, q.quality,
    row_number() OVER (PARTITION BY c.cluster_id
                       ORDER BY q.quality DESC, c.id) AS rn
  FROM clusters_t c JOIN qual q ON c.id = q.id
)
SELECT cluster_id,
  min(CASE WHEN rn = 1 THEN id END) AS kept_id,
  min(CASE WHEN rn = 1 THEN quality END) AS kept_quality,
  (count(*) - 1)::BIGINT AS n_removed
FROM ranked GROUP BY cluster_id ORDER BY cluster_id
"""


query(
    "dedup_canonical_by_quality", q_dedup_canonical_by_quality,
    _canonical_quality_oracle(),
)


# ---------------------------------------------------------------------------
# lexicon-based content filter rate (safety-filter shape)
# ---------------------------------------------------------------------------

_DENY_TOKENS = ("slow", "error", "crash")  # stand-in safety lexicon


def q_lexicon_filter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The safety-filter shape every pretraining pipeline runs: per
    source, how many documents contain ≥1 deny-list token (whole-token
    match on the normalized text, not substring — 'slower' must not trip
    'slow'), hit counts, and the filter rate in bps. The lexicon is a
    broadcast-size list compiled into the expression; swapping in a real
    deny-list changes data, not the plan.
    """
    docs = _read(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    toks = F.split(norm, " ")
    deny = F.array(*[F.lit(t) for t in _DENY_TOKENS])
    n_hits = F.size(F.array_intersect(toks, deny))
    per_doc = docs.select(
        "source",
        (n_hits > 0).cast("int").alias("flagged"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(deny, t))
        ).alias("hit_tokens"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("flagged").cast("long").alias("n_flagged"),
            F.sum("hit_tokens").cast("long").alias("n_hit_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_flagged",
            "n_hit_tokens",
            F.expr("n_flagged * 10000 div n_docs").alias("flag_rate_bps"),
        )
        .orderBy("source")
    )


query("lexicon_filter_rate", q_lexicon_filter_rate, f"""
WITH toks AS (
  SELECT source,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
      AS toks
  FROM documents
),
per_doc AS (
  SELECT source,
    CASE WHEN len(list_intersect(toks,
      {list(_DENY_TOKENS)!r})) > 0 THEN 1 ELSE 0 END AS flagged,
    len(list_filter(toks, t -> list_contains(
      {list(_DENY_TOKENS)!r}, t))) AS hit_tokens
  FROM toks
)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(flagged)::BIGINT AS n_flagged,
  sum(hit_tokens)::BIGINT AS n_hit_tokens,
  (sum(flagged) * 10000 // count(*))::BIGINT AS flag_rate_bps
FROM per_doc GROUP BY source ORDER BY source
""")


# ---------------------------------------------------------------------------
# train/val split leakage audit (near-dups straddling the split)
# ---------------------------------------------------------------------------

_SPLIT_MULT = 2654435761
_SPLIT_TRAIN_PCT = 80


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-integrity gate: after an 80/20 hash split, how many
    NEAR-DUPLICATE pairs (LSH candidates with exact Jaccard ≥ 0.5)
    straddle the boundary? Each one leaks training text into validation —
    the bug class that silently inflates eval scores. Composes the
    production candidate generator and exact verifier with the pure-hash
    split (reproducible, engine-exact).
    """
    from .extra_queries import _lsh_candidates, _shingles
    from .operators import dedup

    sh = _shingles(spark, sf_dir)
    cand = _lsh_candidates(spark, sf_dir)
    pairs = dedup.jaccard_pairs(sh, min_jaccard=0.5, candidates=cand).select(
        "id_a", "id_b"
    )
    is_train = lambda c: (  # noqa: E731
        (c * _SPLIT_MULT) % 100 < _SPLIT_TRAIN_PCT
    ).cast("int")
    flagged = pairs.select(
        is_train(F.col("id_a")).alias("a_train"),
        is_train(F.col("id_b")).alias("b_train"),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_near_dup_pairs"),
        F.sum(F.expr("CASE WHEN a_train <> b_train THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_leaking_pairs"),
        F.expr(
            "sum(CASE WHEN a_train <> b_train THEN 1 ELSE 0 END) * 10000"
            " div count(1)"
        ).alias("leak_rate_bps"),
    )


def _split_leakage_oracle() -> str:
    return f"""
WITH {_SHINGLES_SQL.strip().lstrip(',')},
sigs AS ({_MINHASH_SQL}),
buckets AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
),
{_JACCARD_CORE_SQL.strip().lstrip(',')},
pairs AS (
  SELECT j.id_a, j.id_b
  FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
  WHERE 100 * j.shared >= 50 * j.union_size
),
flagged AS (
  SELECT CASE WHEN (id_a * {_SPLIT_MULT}) % 100 < {_SPLIT_TRAIN_PCT}
              THEN 1 ELSE 0 END AS a_train,
         CASE WHEN (id_b * {_SPLIT_MULT}) % 100 < {_SPLIT_TRAIN_PCT}
              THEN 1 ELSE 0 END AS b_train
  FROM pairs
)
SELECT count(*)::BIGINT AS n_near_dup_pairs,
  sum(CASE WHEN a_train <> b_train THEN 1 ELSE 0 END)::BIGINT
    AS n_leaking_pairs,
  (sum(CASE WHEN a_train <> b_train THEN 1 ELSE 0 END) * 10000
   // count(*))::BIGINT AS leak_rate_bps
FROM flagged
"""


query("split_leakage_audit", q_split_leakage_audit, _split_leakage_oracle())


# ---------------------------------------------------------------------------
# NDCG@10 audit (rank-quality with graded discounts, cross-engine-safe logs)
# ---------------------------------------------------------------------------

import math as _math

# discounts computed ONCE driver-side with glibc log (same trick as the
# TF-IDF idf table: JVM Math.log and glibc disagree in the last ulp for
# some inputs, so neither engine computes a log at query time)
# log2 rank discounts quantized to integer 1e-9 units: DCG becomes an
# exact BIGINT sum (order-free, no float accumulation) and NDCG is ONE
# division of two exact integers -- bit-identical across engines, where
# summing double discounts diverged by 1 ulp depending on add order.
_NDCG_W_E9 = [round(1e9 / _math.log2(i + 1)) for i in range(1, 11)]


def q_ann_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-quality audit #3 (after recall and MRR): NDCG@10 of the IVF
    path with binary same-label relevance. The log2 discounts are
    embedded as INTEGER 1e-9-unit literals computed driver-side, so no
    engine evaluates a logarithm, DCG is an exact order-free BIGINT sum,
    and NDCG is a single integer/integer division -- bit-identical
    across engines; IDCG follows from the per-query relevant count. One
    audit row per query.
    """
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    ivf = simsearch.ivf_topk(emb, queries, k=10, n_probe=2)
    labels = emb.select("vec_id", "label")
    qlab = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    nlab = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    disc = F.array(*[F.lit(int(w)) for w in _NDCG_W_E9])
    rel = (
        ivf.join(F.broadcast(qlab), "query_id")
        .join(nlab, "neighbor_id")
        .select(
            "query_id",
            F.when(F.col("q_label") == F.col("n_label"), 1)
            .otherwise(0)
            .alias("rel"),
            F.element_at(disc, F.col("rank")).alias("disc"),
        )
    )
    per_q = rel.groupBy("query_id").agg(
        F.sum(F.col("rel") * F.col("disc")).cast("long").alias("dcg_e9"),
        F.sum("rel").cast("int").alias("n_rel"),
    )
    # ideal DCG for r relevant items = sum of the first r integer weights
    idcg_prefix = [0]
    for w in _NDCG_W_E9:
        idcg_prefix.append(idcg_prefix[-1] + int(w))
    idcg = F.array(*[F.lit(v) for v in idcg_prefix])
    return (
        per_q.select(
            "query_id",
            "n_rel",
            F.when(F.col("n_rel") == 0, F.lit(0.0))
            .otherwise(
                F.col("dcg_e9").cast("double")
                / F.element_at(idcg, F.col("n_rel") + 1).cast("double")
            )
            .alias("ndcg"),
        )
        .orderBy("query_id")
    )


def _ndcg_oracle() -> str:
    ivf = QUERIES["ann_ivf_topk"].oracle.strip()
    disc = ", ".join(str(int(w)) for w in _NDCG_W_E9)
    idcg_prefix = [0]
    for w in _NDCG_W_E9:
        idcg_prefix.append(idcg_prefix[-1] + int(w))
    idcg = ", ".join(str(v) for v in idcg_prefix)
    return f"""
WITH ivf_t AS ({ivf}),
rel AS (
  SELECT i.query_id,
    CASE WHEN q.label = n.label THEN 1 ELSE 0 END AS rel,
    ([{disc}]::BIGINT[])[i.rank] AS disc
  FROM ivf_t i
  JOIN embeddings q ON i.query_id = q.vec_id
  JOIN embeddings n ON i.neighbor_id = n.vec_id
),
per_q AS (
  SELECT query_id, sum(rel * disc)::BIGINT AS dcg_e9, sum(rel)::INT AS n_rel
  FROM rel GROUP BY query_id
)
SELECT query_id, n_rel,
  CASE WHEN n_rel = 0 THEN 0.0
       ELSE dcg_e9::DOUBLE / (([{idcg}]::BIGINT[])[n_rel + 1])::DOUBLE END AS ndcg
FROM per_q ORDER BY query_id
"""


query("ann_ndcg_audit", q_ann_ndcg_audit, _ndcg_oracle())


# ---------------------------------------------------------------------------
# OOV rate per language against the top-N corpus vocabulary
# ---------------------------------------------------------------------------

_OOV_VOCAB_N = 20


def q_oov_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: the out-of-vocabulary token rate per
    language against the corpus's top-N terms (N=20 here — sized to the synthetic vocab so the OOV path is actually exercised; a real corpus uses 30k+) (count desc, term asc —
    total order, so the vocab set is engine-exact). High OOV for a
    language = the vocab under-serves it; the companion number to
    tokenizer fertility. Vocab is a broadcast-size set; one token scan.
    """
    docs = _read(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    toks = docs.select(
        "lang", F.explode(F.split(norm, " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(_OOV_VOCAB_N)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "tok", "left").select(
        "lang",
        F.coalesce("in_vocab", F.lit(0)).alias("in_vocab"),
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.lit(1) - F.col("in_vocab")).cast("long").alias("n_oov"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 10000 div n_tokens").alias("oov_bps"),
        )
        .orderBy("lang")
    )


query("oov_rate_by_lang", q_oov_rate_by_lang, f"""
WITH toks AS (
  SELECT lang, t.tok
  FROM (SELECT lang, string_split(
          trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
        FROM documents) d,
       unnest(tk) AS t(tok)
  WHERE t.tok <> ''
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ORDER BY n DESC, tok LIMIT {_OOV_VOCAB_N})
),
flagged AS (
  SELECT lang, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
)
SELECT lang, count(*)::BIGINT AS n_tokens, sum(oov)::BIGINT AS n_oov,
  (sum(oov) * 10000 // count(*))::BIGINT AS oov_bps
FROM flagged GROUP BY lang ORDER BY lang
""")


# ---------------------------------------------------------------------------
# Neyman-style stratified sample allocation (exact integer weights)
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000


def q_neyman_allocation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-aware stratified sampling allocation: a 1000-row budget
    split across event-type strata proportionally to the exact
    integer (n·Σx²−S²) div n (≈ n·Var — Neyman's n_h·S_h ordering
    without sqrt, divided through by n to stay inside BIGINT when
    multiplied by the budget), rounded by largest remainder so
    the allocations sum EXACTLY to the budget. The sampling plan a
    stats-aware pipeline computes before drawing; all integer, both
    engines agree on every seat.
    """
    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    strata = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    ).select(
        "event_type",
        "n",
        F.expr("(n * s2 - s * s) div n").alias("w"),
    )
    tot = strata.agg(F.sum("w").alias("w_tot"))
    based = strata.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        "w",
        F.expr(f"w * {_NEYMAN_BUDGET} div w_tot").alias("base"),
        F.expr(f"w * {_NEYMAN_BUDGET} % w_tot").alias("rem"),
    )
    leftover = based.agg(
        (F.lit(_NEYMAN_BUDGET) - F.sum("base")).alias("extra")
    )
    w_rank = Window.orderBy(F.desc("rem"), F.asc("event_type"))
    return (
        based.crossJoin(F.broadcast(leftover))
        .withColumn("rk", F.row_number().over(w_rank))
        .select(
            "event_type",
            "n",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
            ).alias("allocated"),
        )
        .orderBy("event_type")
    )


query("neyman_allocation_counts", q_neyman_allocation_counts, f"""
WITH ev AS (
  SELECT event_type, floor(value * 100)::BIGINT AS cents FROM events
),
strata AS (
  SELECT event_type, count(*)::BIGINT AS n,
    ((count(*) * sum(cents * cents) - sum(cents) * sum(cents)) // count(*))::BIGINT AS w
  FROM ev GROUP BY event_type
),
tot AS (SELECT sum(w)::BIGINT AS w_tot FROM strata),
based AS (
  SELECT event_type, n, w,
    (w * {_NEYMAN_BUDGET}) // w_tot AS base,
    (w * {_NEYMAN_BUDGET}) % w_tot AS rem
  FROM strata, tot
),
leftover AS (SELECT {_NEYMAN_BUDGET} - sum(base) AS extra FROM based)
SELECT event_type, n,
  (base + CASE WHEN row_number() OVER (ORDER BY rem DESC, event_type)
                    <= extra THEN 1 ELSE 0 END)::BIGINT AS allocated
FROM based, leftover ORDER BY event_type
""")


# ---------------------------------------------------------------------------
# per-user daily rate limiting (quota enforcement replay)
# ---------------------------------------------------------------------------

_RATE_LIMIT_K = 5


def q_rate_limit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota enforcement as a batch replay: keep each user's FIRST 5
    events per day (event-time order, event_id tie-break — total order,
    so the kept set is engine-exact) and report per-day admitted/dropped
    counts. The deterministic twin of an API rate limiter — useful both
    for backfill parity with the online limiter and for capping
    per-contributor data in a training mix. One keyed window.
    """
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.expr("unix_millis(CAST(ts AS TIMESTAMP)) div 86400000").alias("day"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "admitted",
        (F.row_number().over(w) <= _RATE_LIMIT_K).cast("int"),
    )
    return (
        flagged.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("admitted").cast("long").alias("n_admitted"),
            F.sum(F.lit(1) - F.col("admitted")).cast("long").alias("n_dropped"),
        )
        .orderBy("day")
    )


query("rate_limit_events", q_rate_limit_events, f"""
WITH ev AS (
  SELECT user_id, event_id, ts,
    epoch_ms(ts)::BIGINT // 86400000 AS day
  FROM events
),
flagged AS (
  SELECT day,
    CASE WHEN row_number() OVER (PARTITION BY user_id, day
                                 ORDER BY ts, event_id)
              <= {_RATE_LIMIT_K} THEN 1 ELSE 0 END AS admitted
  FROM ev
)
SELECT day, count(*)::BIGINT AS n_events,
  sum(admitted)::BIGINT AS n_admitted,
  sum(1 - admitted)::BIGINT AS n_dropped
FROM flagged GROUP BY day ORDER BY day
""")


# ---------------------------------------------------------------------------
# time-decay attribution (exact integer halving weights)
# ---------------------------------------------------------------------------


def q_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution with exponential time decay, kept exact: the weight is
    an integer RIGHT-SHIFT — 128 >> (age_days div 7), halving per week —
    so no float pow exists and every engine agrees on every credit. Each
    purchase credits its most recent preceding touch (same zero-join
    carry-forward window as last_touch_attribution); the rollup reports
    weighted credit per channel in exact weight·cents units.
    """
    ev = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view", "signup")
    touch_ts = F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w)
    touch_type = F.last(
        F.when(is_touch, F.col("event_type")), ignorenulls=True
    ).over(w)
    purchases = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
            touch_ts.alias("t_ts"),
            touch_type.alias("t_type"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce("t_type", F.lit("unattributed")).alias("channel"),
            "cents",
            F.when(
                F.col("t_ts").isNotNull(),
                F.expr(
                    "(unix_millis(CAST(ts AS TIMESTAMP))"
                    " - unix_millis(CAST(t_ts AS TIMESTAMP)))"
                    " div 86400000"
                ),
            ).alias("age_days"),
        )
    )
    weight = F.when(
        F.col("age_days").isNull() | (F.col("age_days") >= 49), F.lit(0)
    ).otherwise(
        F.expr("shiftright(128, cast(age_days div 7 as int))")
    )
    return (
        purchases.withColumn("wt", weight.cast("long"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("wt") * F.col("cents")).alias("weighted_credit"),
        )
        .orderBy("channel")
    )


query("time_decay_attribution", q_time_decay_attribution, """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type,
    floor(value * 100)::BIGINT AS cents,
    last_value(CASE WHEN event_type IN ('click', 'view', 'signup')
                    THEN ts END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_ts,
    last_value(CASE WHEN event_type IN ('click', 'view', 'signup')
                    THEN event_type END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_type
  FROM events
),
purchases AS (
  SELECT coalesce(t_type, 'unattributed') AS channel, cents,
    CASE WHEN t_ts IS NOT NULL
         THEN (epoch_ms(ts) - epoch_ms(t_ts)) // 86400000 END AS age_days
  FROM ev WHERE event_type = 'purchase'
),
weighted AS (
  SELECT channel, cents,
    CASE WHEN age_days IS NULL OR age_days >= 49 THEN 0
         ELSE 128 // (1 << (age_days // 7)) END::BIGINT AS wt
  FROM purchases
)
SELECT channel, count(*)::BIGINT AS n_purchases,
  sum(wt * cents)::BIGINT AS weighted_credit
FROM weighted GROUP BY channel ORDER BY channel
""")


# ---------------------------------------------------------------------------
# kNN label purity (label-noise audit)
# ---------------------------------------------------------------------------


def q_knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit in the confident-learning spirit: for each
    sampled query point, what fraction of its 10 exact nearest neighbors
    share its label (integer bps)? Points whose neighborhood disagrees
    are mislabeling candidates — the triage list a data-quality pass
    reviews before training. Pure composition of the exact retriever.
    """
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    topk = simsearch.cosine_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    labels = emb.select("vec_id", "label")
    qlab = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    nlab = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    return (
        topk.join(F.broadcast(qlab), "query_id")
        .join(nlab, "neighbor_id")
        .groupBy("query_id", "q_label")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(
                F.when(F.col("q_label") == F.col("n_label"), 1).otherwise(0)
            ).cast("long").alias("n_same"),
        )
        .select(
            "query_id",
            F.col("q_label").alias("label"),
            "n_same",
            F.expr("n_same * 10000 div k").alias("purity_bps"),
        )
        .orderBy("query_id")
    )


def _knn_purity_oracle() -> str:
    exact = QUERIES["ann_cosine_topk"].oracle.strip()
    return f"""
WITH topk AS ({exact})
SELECT t.query_id, q.label,
  sum(CASE WHEN q.label = n.label THEN 1 ELSE 0 END)::BIGINT AS n_same,
  (sum(CASE WHEN q.label = n.label THEN 1 ELSE 0 END) * 10000
   // count(*))::BIGINT AS purity_bps
FROM topk t
JOIN embeddings q ON t.query_id = q.vec_id
JOIN embeddings n ON t.neighbor_id = n.vec_id
GROUP BY t.query_id, q.label ORDER BY t.query_id
"""


query("knn_label_purity", q_knn_label_purity, _knn_purity_oracle())


# ---------------------------------------------------------------------------
# funnel conversion-window sensitivity sweep
# ---------------------------------------------------------------------------

_FUNNEL_WINDOWS_H = (1, 6, 24)


def q_funnel_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep for the signup→click→purchase funnel: the
    same staged funnel at 1h / 6h / 24h conversion windows in one result
    — how sensitive the reported conversion is to the window choice (a
    cliff between rows means the window is doing the work, not the
    product). Same keyed-on-user plan per arm; arms are unioned.
    """
    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    out = None
    for hours in _FUNNEL_WINDOWS_H:
        iv = F.expr(f"INTERVAL {hours} HOURS")
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
                & (F.col("ts") <= F.col("s_ts") + iv)
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias("c_ts"))
        )
        p = (
            ev.join(c, "user_id")
            .filter(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("c_ts"))
                & (F.col("ts") <= F.col("c_ts") + iv)
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias("p_ts"))
        )
        arm = (
            s.join(c, "user_id", "left")
            .join(p, "user_id", "left")
            .agg(
                F.lit(hours).cast("int").alias("window_hours"),
                F.count("s_ts").alias("n_signup"),
                F.count("c_ts").alias("n_click"),
                F.count("p_ts").alias("n_purchase"),
            )
            .select("window_hours", "n_signup", "n_click", "n_purchase")
        )
        out = arm if out is None else out.unionByName(arm)
    return out.orderBy("window_hours")


def _funnel_sweep_oracle() -> str:
    arms = []
    for hours in _FUNNEL_WINDOWS_H:
        arms.append(f"""
SELECT {hours}::INT AS window_hours, count(s.s_ts) AS n_signup,
  count(c.c_ts) AS n_click, count(p.p_ts) AS n_purchase
FROM (SELECT user_id, min(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id) s
LEFT JOIN (
  SELECT e.user_id, min(e.ts) AS c_ts
  FROM events e JOIN (SELECT user_id, min(ts) AS s_ts FROM events
                      WHERE event_type = 'signup' GROUP BY user_id) s2
    USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s2.s_ts
    AND e.ts <= s2.s_ts + INTERVAL {hours} HOURS GROUP BY e.user_id) c
  USING (user_id)
LEFT JOIN (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM events e JOIN (
    SELECT e2.user_id, min(e2.ts) AS c_ts
    FROM events e2 JOIN (SELECT user_id, min(ts) AS s_ts FROM events
                         WHERE event_type = 'signup' GROUP BY user_id) s3
      USING (user_id)
    WHERE e2.event_type = 'click' AND e2.ts > s3.s_ts
      AND e2.ts <= s3.s_ts + INTERVAL {hours} HOURS GROUP BY e2.user_id) c2
    USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c2.c_ts
    AND e.ts <= c2.c_ts + INTERVAL {hours} HOURS GROUP BY e.user_id) p
  USING (user_id)""")
    union = " UNION ALL ".join(f"({a})" for a in arms)
    return f"SELECT * FROM ({union}) ORDER BY window_hours"


query("funnel_window_sweep", q_funnel_window_sweep, _funnel_sweep_oracle())


# ---------------------------------------------------------------------------
# dataset card (one-row corpus summary)
# ---------------------------------------------------------------------------


def q_dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one row: corpus size, language/source breadth,
    token mass, English share, exact-duplicate groups, and the deny-list
    flag rate — the numbers a datasheet/data-card publishes, each
    integer-exact. Two scans (one plain agg, one md5 dup-group agg),
    both map-side combinable.
    """
    docs = _read(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    toks = F.split(norm, " ")
    deny = F.array(*[F.lit(t) for t in _DENY_TOKENS])
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(F.array_intersect(toks, deny)) > 0).cast("int").alias("flagged"),
        F.md5(norm).alias("digest"),
    )
    dups = (
        base.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_groups"),
            F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0))
            .cast("long")
            .alias("n_removable"),
        )
    )
    summary = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_en"),
        F.sum("flagged").cast("long").alias("n_flagged"),
    )
    return summary.crossJoin(F.broadcast(dups)).select(
        "n_docs",
        "n_langs",
        "n_sources",
        "total_tokens",
        F.expr("total_tokens div n_docs").alias("mean_tokens"),
        "total_chars",
        F.expr("n_en * 10000 div n_docs").alias("en_share_bps"),
        F.expr("n_flagged * 10000 div n_docs").alias("flag_rate_bps"),
        "n_dup_groups",
        "n_removable",
    )


query("dataset_card_summary", q_dataset_card_summary, f"""
WITH base AS (
  SELECT doc_id, lang, source, n_chars,
    len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
        ' '))::BIGINT AS n_tokens,
    CASE WHEN len(list_intersect(
      string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
      {list(_DENY_TOKENS)!r})) > 0 THEN 1 ELSE 0 END AS flagged,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest
  FROM documents
),
dups AS (
  SELECT sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups,
    sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END)::BIGINT AS n_removable
  FROM (SELECT digest, count(*) AS n FROM base GROUP BY digest)
),
summary AS (
  SELECT count(*)::BIGINT AS n_docs,
    count(DISTINCT lang)::BIGINT AS n_langs,
    count(DISTINCT source)::BIGINT AS n_sources,
    sum(n_tokens)::BIGINT AS total_tokens,
    sum(n_chars)::BIGINT AS total_chars,
    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en,
    sum(flagged)::BIGINT AS n_flagged
  FROM base
)
SELECT n_docs, n_langs, n_sources, total_tokens,
  (total_tokens // n_docs)::BIGINT AS mean_tokens, total_chars,
  (n_en * 10000 // n_docs)::BIGINT AS en_share_bps,
  (n_flagged * 10000 // n_docs)::BIGINT AS flag_rate_bps,
  n_dup_groups, n_removable
FROM summary, dups
""")


# ---------------------------------------------------------------------------
# modularity of the LPA communities (exact integer Q)
# ---------------------------------------------------------------------------


def q_graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality of the LPA partition: Newman modularity kept exact by
    cross-multiplication — with D = directed edge count (= 2m),
    Q = Σ_c (din_c·D − deg_c²) / D², emitted as BIGINT numerator /
    denominator plus truncated bps. The acceptance number for any
    community detector: Q near 0 says the 'communities' are no better
    than random — which is the honest expectation on this near-complete
    bipartite purchase graph, and exactly why the audit belongs next to
    the algorithm.
    """
    from .operators import graph

    li = _read(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + F.lit(_LPA_SUPP_OFFSET)).alias("dst"),
    ).distinct()
    labels = graph.label_propagation(edges, rounds=2)
    e0 = edges.where(F.col("src") != F.col("dst"))
    und = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    la = labels.select(F.col("node").alias("src"), F.col("label").alias("l_src"))
    lb = labels.select(F.col("node").alias("dst"), F.col("label").alias("l_dst"))
    tagged = und.join(la, "src").join(lb, "dst")
    per_c = tagged.groupBy("l_src").agg(
        F.count(F.lit(1)).alias("deg"),
        F.sum(
            F.when(F.col("l_src") == F.col("l_dst"), 1).otherwise(0)
        ).alias("din"),
    )
    d_tot = und.agg(F.count(F.lit(1)).alias("d"))
    return (
        per_c.crossJoin(F.broadcast(d_tot))
        .agg(
            F.sum(F.expr("din * d - deg * deg")).alias("q_num"),
            F.first(F.expr("d * d")).alias("q_den"),
        )
        .select(
            "q_num",
            "q_den",
            F.expr("q_num * 10000 div q_den").alias("q_bps"),
        )
    )


def _modularity_oracle() -> str:
    lpa = QUERIES["graph_label_propagation"].oracle.strip()
    # reuse the LPA oracle's CTE chain up to l2 by swapping its final SELECT
    final = "SELECT label, count(*)::BIGINT AS community_size\nFROM l2 GROUP BY label ORDER BY label"
    assert final in lpa
    chain = lpa.replace(final, "SELECT 1")  # placeholder; rebuilt below
    chain = chain[: chain.rindex("SELECT 1")].rstrip()
    return f"""{chain},
tagged AS (
  SELECT a.label AS l_src, b.label AS l_dst
  FROM e JOIN l2 a ON e.src = a.node JOIN l2 b ON e.dst = b.node
),
per_c AS (
  SELECT l_src, count(*)::BIGINT AS deg,
    sum(CASE WHEN l_src = l_dst THEN 1 ELSE 0 END)::BIGINT AS din
  FROM tagged GROUP BY l_src
),
d_tot AS (SELECT count(*)::BIGINT AS d FROM e)
SELECT sum(din * d - deg * deg)::BIGINT AS q_num,
  (max(d) * max(d))::BIGINT AS q_den,
  (sum(din * d - deg * deg) * 10000 // (max(d) * max(d)))::BIGINT AS q_bps
FROM per_c, d_tot
"""


query("graph_modularity_score", q_graph_modularity_score, _modularity_oracle())


# ---------------------------------------------------------------------------
# hybrid fusion weight sweep (lexical vs vector balance, all-integer)
# ---------------------------------------------------------------------------

_FUSION_WEIGHTS = (25, 50, 75)
_FUSION_ARM_K = 200
_FUSION_TOP = 5


def q_fusion_weight_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep for hybrid retrieval: rank-based CombSUM at
    lexical weights 25/50/75% — points = w·(201−lex_rank) +
    (100−w)·(201−vec_rank), pure integers so every engine ranks
    identically. The weight-tuning table next to rrf_hybrid_search
    (which pins the standard 1/(60+r) fusion); arms stay top-200
    retrievers at any corpus size.
    """
    from .analytics_queries import _bm25_scores

    lex = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_FUSION_ARM_K)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
            .alias("lex_rank"),
        )
    )
    emb = _read(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"), F.col("qvec"), lambda x, y: x.cast("double") * y
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda a, v: a + v,
        )
    )
    vec = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            F.col("vec_id").alias("doc_id"),
            (dot / (norm(F.col("embedding")) * norm(F.col("qvec")))).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(_FUSION_ARM_K)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("cosine"), F.asc("doc_id")))
            .alias("vec_rank"),
        )
    )
    joined = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(
            F.lit(_FUSION_ARM_K + 1) - F.col("lex_rank"), F.lit(0)
        ).alias("p_lex"),
        F.coalesce(
            F.lit(_FUSION_ARM_K + 1) - F.col("vec_rank"), F.lit(0)
        ).alias("p_vec"),
    )
    out = None
    for w in _FUSION_WEIGHTS:
        scored = joined.select(
            F.lit(w).cast("int").alias("lex_weight"),
            "doc_id",
            (F.lit(w) * F.col("p_lex") + F.lit(100 - w) * F.col("p_vec"))
            .cast("long")
            .alias("points"),
        )
        wk = Window.partitionBy("lex_weight").orderBy(
            F.desc("points"), F.asc("doc_id")
        )
        arm = (
            scored.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= _FUSION_TOP)
            .select("lex_weight", F.col("rk").cast("int").alias("rk"),
                    "doc_id", "points")
        )
        out = arm if out is None else out.unionByName(arm)
    return out.orderBy("lex_weight", "rk")


def _fusion_sweep_oracle() -> str:
    rrf = _RRF_ORACLE
    cut = rrf.index("fused AS (")
    prefix = rrf[:cut].rstrip().rstrip(",")
    arms = []
    for w in _FUSION_WEIGHTS:
        arms.append(f"""
SELECT {w}::INT AS lex_weight, rk::INT AS rk, doc_id, points FROM (
  SELECT doc_id,
    ({w} * coalesce({_FUSION_ARM_K + 1} - lex_rank, 0)
     + {100 - w} * coalesce({_FUSION_ARM_K + 1} - vec_rank, 0))::BIGINT
      AS points,
    row_number() OVER (ORDER BY
      ({w} * coalesce({_FUSION_ARM_K + 1} - lex_rank, 0)
       + {100 - w} * coalesce({_FUSION_ARM_K + 1} - vec_rank, 0)) DESC,
      doc_id) AS rk
  FROM joined
) WHERE rk <= {_FUSION_TOP}""")
    union = " UNION ALL ".join(f"({a})" for a in arms)
    return f"""{prefix},
joined AS (
  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id, lex_rank, vec_rank
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
)
SELECT * FROM ({union}) ORDER BY lex_weight, rk
"""


query("fusion_weight_sweep", q_fusion_weight_sweep, _fusion_sweep_oracle())


# ---------------------------------------------------------------------------
# cohort LTV curve (cumulative revenue by cohort age)
# ---------------------------------------------------------------------------


def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value curve: users grouped by signup week (first event
    week), purchase revenue accumulated by cohort age in weeks — the
    (cohort, age) → cumulative-cents triangle finance reads next to the
    retention triangle. Exact integer cents; the cumulative window runs
    per cohort over ≤|weeks| rows.
    """
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.expr("unix_millis(CAST(ts AS TIMESTAMP)) div 604800000").alias(
            "week"
        ),
    )
    first_week = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_week, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("age_weeks"))
        .agg(F.sum("cents").alias("week_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.withColumn("cum_cents", F.sum("week_cents").over(w))
        .select("cohort_week", "age_weeks", "week_cents", "cum_cents")
        .orderBy("cohort_week", "age_weeks")
    )


query("cohort_ltv_curve", q_cohort_ltv_curve, """
WITH ev AS (
  SELECT user_id, event_type, floor(value * 100)::BIGINT AS cents,
    epoch_ms(ts)::BIGINT // 604800000 AS week
  FROM events
),
first_week AS (
  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
),
rev AS (
  SELECT f.cohort_week, e.week - f.cohort_week AS age_weeks,
    sum(e.cents)::BIGINT AS week_cents
  FROM ev e JOIN first_week f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY f.cohort_week, e.week - f.cohort_week
)
SELECT cohort_week, age_weeks, week_cents,
  sum(week_cents) OVER (PARTITION BY cohort_week ORDER BY age_weeks
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cents
FROM rev ORDER BY cohort_week, age_weeks
""")


# ---------------------------------------------------------------------------
# dedup pipeline yield (per-stage survivor accounting)
# ---------------------------------------------------------------------------


def q_dedup_pipeline_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number a dedup run reports upward: corpus in → exact-dedup
    survivors (min doc per md5 of normalized text) → near-dup survivors
    (MinHash-LSH cluster canonicals), with the final yield in bps. Both
    stages use the production operators; the survivor rule (min id) is a
    total order, so the pipeline is replayable.
    """
    docs = _read(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    base = docs.select("doc_id", F.md5(norm).alias("digest"))
    exact_canon = base.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id")
    )
    clusters = q_dedup_clusters(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "is_canonical"
    )
    survivors2 = exact_canon.join(clusters, "doc_id").filter(
        F.col("is_canonical") == 1
    )
    n0 = base.agg(F.count(F.lit(1)).alias("n_input"))
    n1 = exact_canon.agg(F.count(F.lit(1)).alias("after_exact"))
    n2 = survivors2.agg(F.count(F.lit(1)).alias("after_neardup"))
    return (
        n0.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "n_input",
            "after_exact",
            "after_neardup",
            F.expr("after_neardup * 10000 div n_input").alias("yield_bps"),
        )
    )


def _pipeline_yield_oracle() -> str:
    clusters = QUERIES["dedup_clusters"].oracle.strip()
    return f"""
WITH base AS (
  SELECT doc_id,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest
  FROM documents
),
exact_canon AS (
  SELECT min(doc_id) AS doc_id FROM base GROUP BY digest
),
clusters_t AS (SELECT id AS doc_id, is_canonical FROM ({clusters}) c),
survivors2 AS (
  SELECT e.doc_id FROM exact_canon e
  JOIN clusters_t c ON e.doc_id = c.doc_id WHERE c.is_canonical = 1
)
SELECT (SELECT count(*) FROM base)::BIGINT AS n_input,
  (SELECT count(*) FROM exact_canon)::BIGINT AS after_exact,
  (SELECT count(*) FROM survivors2)::BIGINT AS after_neardup,
  ((SELECT count(*) FROM survivors2) * 10000
   // (SELECT count(*) FROM base))::BIGINT AS yield_bps
"""


query("dedup_pipeline_yield", q_dedup_pipeline_yield, _pipeline_yield_oracle())


# ---------------------------------------------------------------------------
# temporal train/test split with embargo (purged time-series CV)
# ---------------------------------------------------------------------------


def q_temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged temporal split (the de-Prado-style answer to leakage
    through autocorrelation): train = weeks before the data-derived
    cutoff, a 1-week EMBARGO dropped entirely, test = weeks after.
    Reports per-segment event/user counts and the users straddling
    train↔test (fine for user-stationary features, the red flag for
    recency features). Cutoff = 70% of the observed week span —
    data-derived, so the split reproduces forever.
    """
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_millis(CAST(ts AS TIMESTAMP)) div 604800000").alias(
            "week"
        ),
    )
    bounds = ev.agg(
        F.min("week").alias("w0"), F.max("week").alias("w1")
    ).select(
        "w0", "w1", F.expr("w0 + (w1 - w0) * 7 div 10").alias("cutoff")
    )
    seg = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(F.col("week") < F.col("cutoff"), "train")
        .when(F.col("week") < F.col("cutoff") + 1, "embargo")
        .otherwise("test")
        .alias("segment"),
    )
    per_seg = seg.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    straddle = (
        seg.filter(F.col("segment") != "embargo")
        .groupBy("user_id")
        .agg(F.countDistinct("segment").alias("n_seg"))
        .agg(
            F.sum(F.when(F.col("n_seg") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_straddling_users")
        )
    )
    return (
        per_seg.crossJoin(F.broadcast(straddle))
        .select("segment", "n_events", "n_users", "n_straddling_users")
        .orderBy("segment")
    )


query("temporal_split_embargo", q_temporal_split_embargo, """
WITH ev AS (
  SELECT user_id, epoch_ms(ts)::BIGINT // 604800000 AS week FROM events
),
bounds AS (
  SELECT min(week) AS w0, max(week) AS w1,
    min(week) + (max(week) - min(week)) * 7 // 10 AS cutoff
  FROM ev
),
seg AS (
  SELECT user_id,
    CASE WHEN week < cutoff THEN 'train'
         WHEN week < cutoff + 1 THEN 'embargo'
         ELSE 'test' END AS segment
  FROM ev, bounds
),
per_seg AS (
  SELECT segment, count(*)::BIGINT AS n_events,
    count(DISTINCT user_id)::BIGINT AS n_users
  FROM seg GROUP BY segment
),
straddle AS (
  SELECT sum(CASE WHEN n_seg = 2 THEN 1 ELSE 0 END)::BIGINT
    AS n_straddling_users
  FROM (SELECT user_id, count(DISTINCT segment) AS n_seg
        FROM seg WHERE segment <> 'embargo' GROUP BY user_id)
)
SELECT segment, n_events, n_users, n_straddling_users
FROM per_seg, straddle ORDER BY segment
""")


# ---------------------------------------------------------------------------
# geofence containment counts (point-in-rectangle, exact integers)
# ---------------------------------------------------------------------------

_GEOFENCES = [
    # (name, x_min, x_max, y_min, y_max) in micro-units on the synthetic map
    ("downtown", 100_000, 400_000, 100_000, 400_000),
    ("midtown", 300_000, 700_000, 300_000, 700_000),
    ("harbor", 600_000, 999_999, 0, 300_000),
]


def q_spatial_geofence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon for the rectangle case: customers on the same
    deterministic micro-coordinate map as spatial_nn_customers, counted
    per (possibly overlapping) geofence — the zone-analytics shape. The
    fence table is a literal broadcast; containment is four integer
    compares, so the plan is one map-side cross with 3 rows + a hash agg.
    """
    cust = _read(spark, sf_dir, "customer")
    coord = lambda salt: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("c_custkey").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )
    pts = cust.select(
        coord("x:").alias("x"), coord("y:").alias("y")
    )
    fences = spark.createDataFrame(
        _GEOFENCES, "fence string, x0 long, x1 long, y0 long, y1 long"
    )
    return (
        pts.crossJoin(F.broadcast(fences))
        .filter(
            (F.col("x") >= F.col("x0"))
            & (F.col("x") <= F.col("x1"))
            & (F.col("y") >= F.col("y0"))
            & (F.col("y") <= F.col("y1"))
        )
        .groupBy("fence")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("fence")
    )


def _geofence_oracle() -> str:
    fences = ", ".join(
        f"('{n}', {x0}, {x1}, {y0}, {y1})"
        for n, x0, x1, y0, y1 in _GEOFENCES
    )
    return f"""
WITH pts AS (
  SELECT
    ('0x' || substr(md5('x:' || c_custkey::VARCHAR), 1, 7))::BIGINT
      % 1000000 AS x,
    ('0x' || substr(md5('y:' || c_custkey::VARCHAR), 1, 7))::BIGINT
      % 1000000 AS y
  FROM customer
),
fences(fence, x0, x1, y0, y1) AS (VALUES {fences})
SELECT fence, count(*)::BIGINT AS n_points
FROM pts JOIN fences
  ON x >= x0 AND x <= x1 AND y >= y0 AND y <= y1
GROUP BY fence ORDER BY fence
"""


query("spatial_geofence_counts", q_spatial_geofence_counts, _geofence_oracle())


# ---------------------------------------------------------------------------
# recency-weighted downsampling (replay-buffer retention)
# ---------------------------------------------------------------------------


def q_recency_weighted_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay-buffer downsampling: keep probability halves per week of
    age — weight = 64 >> age_weeks (integer shift, no float pow), an
    event is kept iff hash(event_id) % 64 < weight. Reproducible across
    engines/retries like every sampler here; per-week kept counts + bps
    show the realized decay curve against the max-week as-of point.
    """
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.expr("unix_millis(CAST(ts AS TIMESTAMP)) div 604800000").alias(
            "week"
        ),
    )
    mx = ev.agg(F.max("week").alias("w_max"))
    aged = ev.crossJoin(F.broadcast(mx)).select(
        "event_id",
        "week",
        (F.col("w_max") - F.col("week")).alias("age_weeks"),
    )
    weight = F.when(F.col("age_weeks") >= 7, 0).otherwise(
        F.expr("shiftright(64, cast(age_weeks as int))")
    )
    kept = aged.select(
        "week",
        F.when(
            (F.col("event_id") * 2654435761) % 64 < weight, 1
        ).otherwise(0).alias("kept"),
    )
    return (
        kept.groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("kept").cast("long").alias("n_kept"),
        )
        .select(
            "week",
            "n_events",
            "n_kept",
            F.expr("n_kept * 10000 div n_events").alias("kept_bps"),
        )
        .orderBy("week")
    )


query("recency_weighted_retention", q_recency_weighted_retention, """
WITH ev AS (
  SELECT event_id, epoch_ms(ts)::BIGINT // 604800000 AS week FROM events
),
mx AS (SELECT max(week) AS w_max FROM ev),
aged AS (
  SELECT event_id, week, w_max - week AS age_weeks FROM ev, mx
),
kept AS (
  SELECT week,
    CASE WHEN (event_id * 2654435761) % 64 <
      (CASE WHEN age_weeks >= 7 THEN 0
            ELSE 64 // (1 << age_weeks) END)
    THEN 1 ELSE 0 END AS kept
  FROM aged
)
SELECT week, count(*)::BIGINT AS n_events, sum(kept)::BIGINT AS n_kept,
  (sum(kept) * 10000 // count(*))::BIGINT AS kept_bps
FROM kept GROUP BY week ORDER BY week
""")


# ---------------------------------------------------------------------------
# keyset pagination (the scale-safe OFFSET replacement)
# ---------------------------------------------------------------------------

_PAGE_SIZE = 20


def q_keyset_pagination_page3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page 3 of orders by (o_orderdate, o_orderkey) via KEYSET
    pagination: each page is WHERE (key > last-seen) ORDER BY key LIMIT n
    — cost O(page) with an index/sort, where OFFSET is O(rows skipped)
    and gets slower every page (the API-pagination bug at warehouse
    scale). The two previous pages run here only to derive the cursor
    the client would have kept; a real service passes it in.
    """
    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    cursor = None
    page = None
    for _ in range(3):
        q = orders
        if cursor is not None:
            d, k = cursor
            q = q.filter(
                (F.col("o_orderdate") > F.lit(d))
                | (
                    (F.col("o_orderdate") == F.lit(d))
                    & (F.col("o_orderkey") > F.lit(k))
                )
            )
        page = (
            q.orderBy("o_orderdate", "o_orderkey").limit(_PAGE_SIZE)
        )
        last_rows = page.orderBy(
            F.desc("o_orderdate"), F.desc("o_orderkey")
        ).limit(1).collect()
        if not last_rows:
            # ran out of rows (short/empty table): the current (empty)
            # page is the final answer — exactly what a client sees
            break
        last = last_rows[0]
        cursor = (last["o_orderdate"], last["o_orderkey"])
    return page.select(
        "o_orderkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).orderBy("o_orderdate", "o_orderkey")


query("keyset_pagination_page3", q_keyset_pagination_page3, f"""
SELECT o_orderkey, o_orderdate, floor(o_totalprice * 100)::BIGINT AS cents
FROM orders
ORDER BY o_orderdate, o_orderkey
LIMIT {_PAGE_SIZE} OFFSET {2 * _PAGE_SIZE}
""")


# ---------------------------------------------------------------------------
# file provenance via the _metadata hidden column
# ---------------------------------------------------------------------------


def q_file_provenance_partition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row provenance from the reader itself: Spark's hidden ``_metadata``
    column maps every row to its physical file with zero bookkeeping —
    the debugging/lineage surface for 'which file produced this bad row'.
    Demonstrated over the partitioned IVF index: rows grouped by the
    partition directory extracted from ``_metadata.file_path`` must equal
    the logical per-label counts (the oracle) — file layout and logical
    content reconciled in one query.
    """
    emb = _read(spark, sf_dir, "embeddings")
    path = _ivf_index(spark, sf_dir)
    # schema declared so an index built from an empty corpus (no
    # partition dirs) still reads as zero rows instead of failing inference
    full = spark.read.schema(emb.schema).parquet(path)
    part = F.regexp_extract(
        F.col("_metadata.file_path"), r"label=(\d+)", 1
    ).cast("int")
    return (
        full.select(part.alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("label")
    )


query("file_provenance_partition_counts", q_file_provenance_partition_counts, """
SELECT label, count(*)::BIGINT AS n_rows
FROM embeddings GROUP BY label ORDER BY label
""")


# ---------------------------------------------------------------------------
# CEP negation pattern: signup → purchase with NO error between
# ---------------------------------------------------------------------------


def q_pattern_negation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complex-event-processing NEGATION pattern — A then B within a
    day with NO C in between (here: signup → purchase uninterrupted by an
    error) — the shape MATCH_RECOGNIZE's [^C] handles in CEP engines.
    Zero-join plan: one carry-forward window tracks the latest signup AND
    the latest error before each purchase; the pattern holds iff the
    signup is more recent than the error and within the day window.
    Counts per outcome; every compare is on event-time + id total order.
    """
    ev = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_signup = F.last(
        F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True
    ).over(w)
    last_error = F.last(
        F.when(F.col("event_type") == "error", F.col("ts")), ignorenulls=True
    ).over(w)
    purchases = ev.select(
        "user_id",
        "ts",
        "event_type",
        last_signup.alias("s_ts"),
        last_error.alias("e_ts"),
    ).filter(F.col("event_type") == "purchase")
    in_window = F.col("s_ts").isNotNull() & (
        F.col("ts") <= F.col("s_ts") + F.expr("INTERVAL 1 DAY")
    )
    uninterrupted = F.col("e_ts").isNull() | (F.col("e_ts") < F.col("s_ts"))
    outcome = (
        F.when(~in_window, "no_recent_signup")
        .when(uninterrupted, "clean_conversion")
        .otherwise("interrupted_by_error")
    )
    return (
        purchases.select(outcome.alias("outcome"))
        .groupBy("outcome")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("outcome")
    )


query("pattern_negation_counts", q_pattern_negation_counts, """
WITH ev AS (
  SELECT user_id, ts, event_type,
    last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s_ts,
    last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS e_ts
  FROM events
),
purchases AS (
  SELECT CASE
    WHEN s_ts IS NULL OR ts > s_ts + INTERVAL 1 DAY THEN 'no_recent_signup'
    WHEN e_ts IS NULL OR e_ts < s_ts THEN 'clean_conversion'
    ELSE 'interrupted_by_error' END AS outcome
  FROM ev WHERE event_type = 'purchase'
)
SELECT outcome, count(*)::BIGINT AS n_purchases
FROM purchases GROUP BY outcome ORDER BY outcome
""")


# ---------------------------------------------------------------------------
# next-event prediction accuracy of the transition model
# ---------------------------------------------------------------------------


def q_markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the order-1 Markov model: predict each next event as
    the globally most frequent successor of the current type (tie → min
    type) and score accuracy per current type in bps — the eval loop
    that closes the transition-matrix family (event_transition_matrix
    builds the model; this measures it ON the same data, which the
    docstring owns: a real eval holds the matrix out).
    """
    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    pairs = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    trans = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    wp = Window.partitionBy("cur").orderBy(F.desc("n"), F.asc("nxt"))
    pred = (
        trans.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .select("cur", F.col("nxt").alias("predicted"))
    )
    scored = pairs.join(F.broadcast(pred), "cur").select(
        "cur",
        F.when(F.col("nxt") == F.col("predicted"), 1).otherwise(0).alias("hit"),
    )
    return (
        scored.groupBy("cur")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum("hit").cast("long").alias("n_correct"),
        )
        .select(
            "cur",
            "n_transitions",
            "n_correct",
            F.expr("n_correct * 10000 div n_transitions").alias("acc_bps"),
        )
        .orderBy("cur")
    )


query("markov_next_event_accuracy", q_markov_next_event_accuracy, """
WITH pairs AS (
  SELECT event_type AS cur,
    lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS nxt
  FROM events
),
p2 AS (SELECT cur, nxt FROM pairs WHERE nxt IS NOT NULL),
trans AS (SELECT cur, nxt, count(*)::BIGINT AS n FROM p2 GROUP BY cur, nxt),
pred AS (
  SELECT cur, nxt AS predicted FROM (
    SELECT cur, nxt,
      row_number() OVER (PARTITION BY cur ORDER BY n DESC, nxt) AS rk
    FROM trans) WHERE rk = 1
)
SELECT p2.cur, count(*)::BIGINT AS n_transitions,
  sum(CASE WHEN p2.nxt = pred.predicted THEN 1 ELSE 0 END)::BIGINT
    AS n_correct,
  (sum(CASE WHEN p2.nxt = pred.predicted THEN 1 ELSE 0 END) * 10000
   // count(*))::BIGINT AS acc_bps
FROM p2 JOIN pred ON p2.cur = pred.cur
GROUP BY p2.cur ORDER BY p2.cur
""")


# ---------------------------------------------------------------------------
# as-of join with tolerance (pandas merge_asof parity)
# ---------------------------------------------------------------------------


def q_asof_tolerance_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance bound (pandas merge_asof's
    ``tolerance=``): each event takes the user's latest preceding order,
    but a match older than 7 days is REJECTED — stale context is worse
    than none in a feature pipeline. Same single-shuffle union-merge
    carry as asof_orders_before_events; the tolerance is one integer
    date-diff compare. Output: events per match bucket.
    """
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    o_rows = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.lit(1).alias("is_order"),
        "o_orderkey",
    )
    e_rows = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(0).alias("is_order"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    merged = o_rows.unionByName(e_rows)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("t"), F.desc("is_order"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.select(
        "user_id",
        "t",
        "is_order",
        F.last(
            F.when(F.col("is_order") == 1, F.col("t")), ignorenulls=True
        ).over(w).alias("o_t"),
    ).filter(F.col("is_order") == 0)
    gap_days = F.expr("datediff(t, o_t)")
    bucket = (
        F.when(F.col("o_t").isNull(), "no_prior_order")
        .when(gap_days <= 7, "matched_within_7d")
        .otherwise("rejected_stale")
    )
    return (
        carried.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("bucket")
    )


query("asof_tolerance_buckets", q_asof_tolerance_buckets, """
WITH merged AS (
  SELECT o_custkey AS user_id, o_orderdate::TIMESTAMP AS t, 1 AS is_order,
    o_orderkey
  FROM orders
  UNION ALL
  SELECT user_id, ts, 0, NULL FROM events
),
carried AS (
  SELECT user_id, t, is_order,
    last_value(CASE WHEN is_order = 1 THEN t END IGNORE NULLS)
      OVER (PARTITION BY user_id
            ORDER BY t, is_order DESC, o_orderkey
            ROWS UNBOUNDED PRECEDING) AS o_t
  FROM merged
)
SELECT CASE WHEN o_t IS NULL THEN 'no_prior_order'
            WHEN datediff('day', o_t, t) <= 7 THEN 'matched_within_7d'
            ELSE 'rejected_stale' END AS bucket,
  count(*)::BIGINT AS n_events
FROM carried WHERE is_order = 0
GROUP BY 1 ORDER BY bucket
""")


# ---------------------------------------------------------------------------
# Jaccard threshold sensitivity sweep
# ---------------------------------------------------------------------------

_JACCARD_SWEEP_PCTS = (30, 50, 70)


def q_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold sensitivity: exact-Jaccard candidate-pair counts
    at 30/50/70% from ONE pair computation — the pair-volume curve that
    picks the dedup operating point (a cliff between thresholds means the
    corpus has a near-dup band there). Candidate-restricted like the
    production path; thresholds are integer cross-compares.
    """
    from .extra_queries import _lsh_candidates, _shingles
    from .operators import dedup

    sh = _shingles(spark, sf_dir)
    cand = _lsh_candidates(spark, sf_dir)
    jac = dedup.jaccard_pairs(sh, min_jaccard=0.0, candidates=cand).select(
        "shared", "union_size"
    )
    aggs = [
        F.sum(
            F.when(
                F.lit(100) * F.col("shared") >= F.lit(p) * F.col("union_size"),
                1,
            ).otherwise(0)
        ).cast("long").alias(f"pairs_ge_{p}")
        for p in _JACCARD_SWEEP_PCTS
    ]
    return jac.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"), *aggs
    )


def _jaccard_sweep_oracle() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN 100 * j.shared >= {p} * j.union_size THEN 1 ELSE 0 END)::BIGINT AS pairs_ge_{p}"
        for p in _JACCARD_SWEEP_PCTS
    )
    return f"""
WITH {_SHINGLES_SQL.strip().lstrip(',')},
sigs AS ({_MINHASH_SQL}),
buckets AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
),
{_JACCARD_CORE_SQL.strip().lstrip(',')}
SELECT count(*)::BIGINT AS n_candidates, {sums}
FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
"""


query("jaccard_threshold_sweep", q_jaccard_threshold_sweep, _jaccard_sweep_oracle())


# ---------------------------------------------------------------------------
# churn-definition sensitivity sweep
# ---------------------------------------------------------------------------

_CHURN_DAYS = (30, 60, 90)


def q_churn_definition_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much does 'churned' depend on the inactivity cutoff? Users
    whose LAST event is ≥30/60/90 days before the dataset's as-of point
    (its max event time — data-derived), counted from one scan + one
    per-user max. A cliff between rows means the cutoff is defining the
    metric, not the behavior — same sensitivity discipline as the funnel
    and probe sweeps.
    """
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_millis(CAST(ts AS TIMESTAMP)) div 86400000").alias("day"),
    )
    last_seen = ev.groupBy("user_id").agg(F.max("day").alias("last_day"))
    asof = ev.agg(F.max("day").alias("as_of_day"))
    aged = last_seen.crossJoin(F.broadcast(asof)).select(
        (F.col("as_of_day") - F.col("last_day")).alias("inactive_days")
    )
    aggs = [
        F.sum(F.when(F.col("inactive_days") >= d, 1).otherwise(0))
        .cast("long")
        .alias(f"churned_{d}d")
        for d in _CHURN_DAYS
    ]
    return aged.agg(F.count(F.lit(1)).cast("long").alias("n_users"), *aggs)


query("churn_definition_sweep", q_churn_definition_sweep, f"""
WITH ev AS (
  SELECT user_id, epoch_ms(ts)::BIGINT // 86400000 AS day FROM events
),
last_seen AS (SELECT user_id, max(day) AS last_day FROM ev GROUP BY user_id),
asof_t AS (SELECT max(day) AS as_of_day FROM ev)
SELECT count(*)::BIGINT AS n_users,
  {", ".join(f"sum(CASE WHEN as_of_day - last_day >= {d} THEN 1 ELSE 0 END)::BIGINT AS churned_{d}d" for d in _CHURN_DAYS)}
FROM last_seen, asof_t
""")


# ---------------------------------------------------------------------------
# price realization vs retail (discount-leakage audit per brand)
# ---------------------------------------------------------------------------


def q_price_realization_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-power audit: realized net revenue vs retail value per
    brand — realization_bps = Σ net cents · 10000 div Σ retail·qty cents,
    everything in exact integer cents (net = extendedprice·(1−discount)
    in DECIMAL before the cents floor). Low realization = discount
    leakage concentrated in that brand. Part dim broadcast; one fact agg.
    """
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_brand")
    net_cents = F.floor(
        (
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (
                F.lit(1).cast("decimal(18,4)")
                - F.col("l_discount").cast("decimal(18,4)")
            )
        ).cast("decimal(38,8)")
        * 100
    ).cast("long")
    retail_cents = (
        F.floor(F.col("p_retailprice") * 100).cast("long")
        * F.col("l_quantity").cast("long")
    )
    joined = li.join(
        F.broadcast(_read(spark, sf_dir, "part").select(
            "p_partkey", "p_brand", "p_retailprice"
        )),
        li["l_partkey"] == F.col("p_partkey"),
    )
    return (
        joined.select(
            "p_brand",
            net_cents.alias("net_cents"),
            retail_cents.alias("retail_cents"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("net_cents").alias("sum_net_cents"),
            F.sum("retail_cents").alias("sum_retail_cents"),
        )
        .select(
            "p_brand",
            "n_lines",
            "sum_net_cents",
            "sum_retail_cents",
            F.expr(
                "sum_net_cents * 10000 div sum_retail_cents"
            ).alias("realization_bps"),
        )
        .orderBy("p_brand")
    )


query("price_realization_by_brand", q_price_realization_by_brand, """
WITH joined AS (
  SELECT p.p_brand,
    floor((l.l_extendedprice::DECIMAL(18,4)
           * (1::DECIMAL(18,4) - l.l_discount::DECIMAL(18,4)))::DECIMAL(38,8)
          * 100)::BIGINT AS net_cents,
    floor(p.p_retailprice * 100)::BIGINT * l.l_quantity::BIGINT
      AS retail_cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT p_brand, count(*)::BIGINT AS n_lines,
  sum(net_cents)::BIGINT AS sum_net_cents,
  sum(retail_cents)::BIGINT AS sum_retail_cents,
  (sum(net_cents) * 10000 // sum(retail_cents))::BIGINT AS realization_bps
FROM joined GROUP BY p_brand ORDER BY p_brand
""")


# ---------------------------------------------------------------------------
# effective tax rate by flag (closes l_tax column coverage)
# ---------------------------------------------------------------------------


def q_effective_tax_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective tax rate per (returnflag, linestatus): tax charged on
    the discounted price — Σ tax cents ·10000 div Σ net cents, all exact
    DECIMAL-then-cents integers (the TPC-H Q1 charge expression's tax leg,
    isolated and rated). Closes column coverage: every lineitem column now
    feeds at least one oracle-gated query.
    """
    li = _read(spark, sf_dir, "lineitem")
    net = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (
            F.lit(1).cast("decimal(18,4)")
            - F.col("l_discount").cast("decimal(18,4)")
        )
    ).cast("decimal(38,8)")
    tax_cents = F.floor(
        (net * F.col("l_tax").cast("decimal(18,4)")).cast("decimal(38,8)")
        * 100
    ).cast("long")
    net_cents = F.floor(net * 100).cast("long")
    return (
        li.select(
            "l_returnflag",
            "l_linestatus",
            tax_cents.alias("tax_cents"),
            net_cents.alias("net_cents"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("tax_cents").alias("sum_tax_cents"),
            F.sum("net_cents").alias("sum_net_cents"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_lines",
            "sum_tax_cents",
            "sum_net_cents",
            F.expr("sum_tax_cents * 10000 div sum_net_cents").alias(
                "eff_tax_bps"
            ),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


query("effective_tax_by_flag", q_effective_tax_by_flag, """
WITH base AS (
  SELECT l_returnflag, l_linestatus,
    floor(((l_extendedprice::DECIMAL(18,4)
            * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(38,8)
           * l_tax::DECIMAL(18,4))::DECIMAL(38,8) * 100)::BIGINT AS tax_cents,
    floor((l_extendedprice::DECIMAL(18,4)
           * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(38,8)
          * 100)::BIGINT AS net_cents
  FROM lineitem
)
SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n_lines,
  sum(tax_cents)::BIGINT AS sum_tax_cents,
  sum(net_cents)::BIGINT AS sum_net_cents,
  (sum(tax_cents) * 10000 // sum(net_cents))::BIGINT AS eff_tax_bps
FROM base GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")


# ---------------------------------------------------------------------------
# product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------


def _pq_kmeans_ctes(
    sub: int, lo: int, d: int,
    src: str = "embeddings", vec: str = "embedding", id_expr: str = "vec_id",
) -> str:
    """Unrolled per-subspace k-means CTE chain (k=4, 2 assignment passes)
    over ``{vec}[lo : lo+d-1]`` of table/CTE ``src`` — the same
    fixed-point replay as the kmeans_clusters oracle
    (curation_queries._KMEANS_CTES), parameterized by subspace (and by
    source for the residual-PQ variant) so DuckDB reproduces every
    codebook bit-for-bit."""
    hi = lo + d - 1
    s = sub
    return f"""
e_{s} AS (
  SELECT {id_expr} AS id,
    list_transform({vec}[{lo}:{hi}],
                   x -> floor(x::DOUBLE * 1000000)::BIGINT) AS q
  FROM {src}
),
init_{s} AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cluster,
    list_transform(q, v -> v::DOUBLE / 1000000.0) AS c
  FROM (SELECT id, q FROM e_{s} ORDER BY id LIMIT 4)
),
d1_{s} AS (
  SELECT e.id, i.cluster,
    list_sum(list_transform(range(1, {d + 1}),
      j -> (e.q[j]::DOUBLE / 1000000.0 - i.c[j])
         * (e.q[j]::DOUBLE / 1000000.0 - i.c[j]))) AS dist
  FROM e_{s} e, init_{s} i
),
a1_{s} AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
      row_number() OVER (PARTITION BY id ORDER BY dist ASC, cluster ASC) AS rn
    FROM d1_{s}
  ) WHERE rn = 1
),
u1_{s} AS (
  SELECT a.cluster, t.j AS dim, sum(e.q[t.j]) AS s, count(*) AS cnt
  FROM a1_{s} a JOIN e_{s} e USING (id),
       unnest(generate_series(1, {d})) AS t(j)
  GROUP BY a.cluster, t.j
),
c1_{s} AS (
  -- empty clusters keep their previous (init) centroid, exactly like
  -- simsearch.kmeans — without this a cluster absent from u1 would be
  -- dropped and the second assignment pass could diverge from Spark
  SELECT i.cluster, coalesce(u.c, i.c) AS c
  FROM init_{s} i
  LEFT JOIN (
    SELECT cluster, list(s::DOUBLE / (cnt * 1000000.0) ORDER BY dim) AS c
    FROM u1_{s} GROUP BY cluster
  ) u USING (cluster)
),
d2_{s} AS (
  SELECT e.id, i.cluster,
    list_sum(list_transform(range(1, {d + 1}),
      j -> (e.q[j]::DOUBLE / 1000000.0 - i.c[j])
         * (e.q[j]::DOUBLE / 1000000.0 - i.c[j]))) AS dist
  FROM e_{s} e, c1_{s} i
),
a2_{s} AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
      row_number() OVER (PARTITION BY id ORDER BY dist ASC, cluster ASC) AS rn
    FROM d2_{s}
  ) WHERE rn = 1
)"""


_PQ_M, _PQ_DSUB = 4, 16


def q_ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes for every corpus vector: 4 subspaces ×
    16 dims, 4 centroids each (simsearch.pq_encode) — 64 float32 dims
    compress to 4 two-bit codes. Codebooks learn with the deterministic
    fixed-point k-means, so the DuckDB oracle replays all four subspace
    codebooks and every code exactly."""
    emb = _read(spark, sf_dir, "embeddings")
    codes, _ = simsearch.pq_encode(emb, m=_PQ_M, k=4, n_assign=2)
    return codes.orderBy("id")


def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC retrieval over PQ codes: rank the corpus against the probe
    vector (vec_id 0 — one bounded driver fetch) using only each
    vector's 4 codes and a driver-inlined 4×4 distance table
    (simsearch.pq_adc_topk). The scan is map-only element_at lookups —
    the 256×-less-IO shape PQ exists for; top-10 via TakeOrdered."""
    emb = _spread(_read(spark, sf_dir, "embeddings"))
    codes, books = simsearch.pq_encode(emb, m=_PQ_M, k=4, n_assign=2)
    probe = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    # empty corpus / missing probe id: empty result, stable schema
    probe_vec = [float(x) for x in probe["embedding"]] if probe else []
    return simsearch.pq_adc_topk(
        codes, books if probe_vec else [], probe_vec, k_top=10,
        exclude_id=0,
    ).orderBy("rank")


_PQ_ALL_CTES = ",\n".join(
    _pq_kmeans_ctes(s, s * _PQ_DSUB + 1, _PQ_DSUB).strip()
    for s in range(_PQ_M)
)

query("ann_pq_codes", q_ann_pq_codes, f"""
WITH {_PQ_ALL_CTES}
SELECT a2_0.id,
  a2_0.cluster::INT AS code_0, a2_1.cluster::INT AS code_1,
  a2_2.cluster::INT AS code_2, a2_3.cluster::INT AS code_3
FROM a2_0 JOIN a2_1 USING (id) JOIN a2_2 USING (id) JOIN a2_3 USING (id)
ORDER BY id
""")

_PQ_ADC_TERMS = " + ".join(f"dm_{s}.d{s}" for s in range(_PQ_M))
_PQ_ADC_JOINS = "\n".join(
    f"JOIN dm_{s} ON dm_{s}.id = a2_0.id" for s in range(_PQ_M)
)
_PQ_DM_CTES = ",\n".join(
    f"""dm_{s} AS (
  SELECT a.id,
    list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
      j -> (pr.p[{s * _PQ_DSUB} + j] - c.c[j])
         * (pr.p[{s * _PQ_DSUB} + j] - c.c[j]))) AS d{s}
  FROM a2_{s} a JOIN c1_{s} c ON a.cluster = c.cluster, probe pr
)"""
    for s in range(_PQ_M)
)

query("ann_pq_adc_topk", q_ann_pq_adc_topk, f"""
WITH {_PQ_ALL_CTES},
probe AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS p
  FROM embeddings WHERE vec_id = 0
),
{_PQ_DM_CTES}
SELECT id, adc_dist, row_number() OVER (ORDER BY adc_dist ASC, id ASC) AS rank
FROM (
  SELECT a2_0.id, {_PQ_ADC_TERMS} AS adc_dist
  FROM a2_0
  {_PQ_ADC_JOINS}
  WHERE a2_0.id <> 0
)
ORDER BY adc_dist ASC, id ASC LIMIT 10
""")


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composition a billion-vector index actually ships:
    coarse stage probes the 2 nearest inverted lists (deterministic
    min-id medoid reps, exact cosine to the probe), fine stage ADC-scores
    ONLY those lists' PQ codes with the driver-inlined distance table.
    The scan therefore touches |corpus| × n_probe/n_lists rows × 1 byte
    of codes — the IVF selectivity and the PQ byte-shrink multiply.
    Probe = vec_id 0 (one bounded driver fetch)."""
    import math

    emb = _spread(_read(spark, sf_dir, "embeddings"))
    codes, books = simsearch.pq_encode(emb, m=_PQ_M, k=4, n_assign=2)
    probe_row = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    if probe_row is None:
        # empty corpus / missing probe id: empty result, stable schema
        return codes.select(
            "id",
            F.lit(0.0).alias("adc_dist"),
            F.lit(0).cast("int").alias("rank"),
        ).limit(0)
    pvec = [float(x) for x in probe_row["embedding"]]
    qcol = F.array(*[F.lit(v) for v in pvec])
    pnorm = math.sqrt(sum(v * v for v in pvec))
    w_rep = Window.partitionBy("label").orderBy(F.asc("vec_id"))
    reps = (
        emb.withColumn("_rn", F.row_number().over(w_rep))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("label").alias("probe_list"),
            F.col("embedding").alias("rep_vec"),
        )
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("rep_vec"), qcol, lambda x, y: x.cast("double") * y
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rnorm = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("rep_vec"), lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    plists = (
        reps.select(
            "probe_list", (dot / (rnorm * F.lit(pnorm))).alias("rep_cos")
        )
        .orderBy(F.desc("rep_cos"), F.asc("probe_list"))
        .limit(2)
        .select("probe_list")
    )
    cand_ids = (
        emb.join(
            F.broadcast(plists), emb["label"] == plists["probe_list"]
        )
        .filter(F.col("vec_id") != 0)
        .select(F.col("vec_id").alias("id"))
    )
    cand_codes = codes.join(cand_ids, "id")
    return simsearch.pq_adc_topk(
        cand_codes, books, pvec, k_top=10, exclude_id=0
    ).orderBy("rank")


query("ann_ivfpq_topk", q_ann_ivfpq_topk, f"""
WITH {_PQ_ALL_CTES},
probe AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS p
  FROM embeddings WHERE vec_id = 0
),
reps AS (
  SELECT label AS rep_list, embedding::DOUBLE[] AS rep_vec
  FROM (
    SELECT label, embedding,
      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
    FROM embeddings
  ) WHERE rn = 1
),
plists AS (
  SELECT rep_list FROM (
    SELECT r.rep_list,
      row_number() OVER (ORDER BY
        list_dot_product(r.rep_vec, pr.p)
          / (sqrt(list_dot_product(r.rep_vec, r.rep_vec))
             * sqrt(list_dot_product(pr.p, pr.p))) DESC, r.rep_list) AS prn
    FROM reps r, probe pr
  ) WHERE prn <= 2
),
cand AS (
  SELECT e.vec_id AS id FROM embeddings e
  JOIN plists pl ON e.label = pl.rep_list
  WHERE e.vec_id <> 0
),
{_PQ_DM_CTES}
SELECT id, adc_dist, row_number() OVER (ORDER BY adc_dist ASC, id ASC) AS rank
FROM (
  SELECT a2_0.id, {_PQ_ADC_TERMS} AS adc_dist
  FROM a2_0
  {_PQ_ADC_JOINS}
  JOIN cand ON cand.id = a2_0.id
)
ORDER BY adc_dist ASC, id ASC LIMIT 10
""")


def q_ann_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acceptance gate for the PQ path (the ann_recall_audit twin for
    quantized retrieval): recall@10 of ADC ranking vs the exact cosine
    ranking for the probe vector, integer bps. Measures the REAL
    pq_encode→pq_adc_topk operators, so codebook drift or a table-lookup
    bug fails the gate rather than silently degrading retrieval."""
    emb = _read(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0)
    exact = simsearch.cosine_topk(emb, q0, k=10).select("neighbor_id")
    codes, books = simsearch.pq_encode(emb, m=_PQ_M, k=4, n_assign=2)
    probe_row = q0.select("embedding").head()
    # empty corpus / missing probe: the ADC side contributes no hits and
    # the audit degrades to a (0, 0, null) row instead of crashing
    probe = [float(x) for x in probe_row["embedding"]] if probe_row else []
    adc = simsearch.pq_adc_topk(
        codes, books if probe else [], probe, k_top=10, exclude_id=0
    ).select(F.col("id").alias("adc_id"))
    hits = exact.join(
        F.broadcast(adc), exact["neighbor_id"] == adc["adc_id"], "left"
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(F.when(F.col("adc_id").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        (
            F.sum(F.when(F.col("adc_id").isNotNull(), 1).otherwise(0))
            * 10000
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("recall_bps"),
    )


query("ann_pq_recall_audit", q_ann_pq_recall_audit, f"""
WITH {_PQ_ALL_CTES},
probe AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS p
  FROM embeddings WHERE vec_id = 0
),
{_PQ_DM_CTES},
adc AS (
  SELECT id FROM (
    SELECT a2_0.id, {_PQ_ADC_TERMS} AS adc_dist
    FROM a2_0
    {_PQ_ADC_JOINS}
    WHERE a2_0.id <> 0
  ) ORDER BY adc_dist ASC, id ASC LIMIT 10
),
exact AS (
  SELECT e.vec_id AS nid FROM embeddings e, probe pr
  WHERE e.vec_id <> 0
  ORDER BY list_dot_product(e.embedding::DOUBLE[], pr.p)
    / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
       * sqrt(list_dot_product(pr.p, pr.p))) DESC, e.vec_id ASC
  LIMIT 10
)
SELECT count(*)::BIGINT AS n_exact,
  sum(CASE WHEN a.id IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_hits,
  (sum(CASE WHEN a.id IS NULL THEN 0 ELSE 1 END) * 10000 // count(*))::BIGINT
    AS recall_bps
FROM exact LEFT JOIN adc a ON exact.nid = a.id
""")


def q_ann_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVFADC (the FAISS IVFADC shape): PQ codebooks learn on
    residuals against each inverted list's exact fixed-point centroid;
    the probe picks 2 lists by L2-to-centroid and ADC-scores only their
    codes with per-list distance tables (simsearch.ivfadc_topk). Probe =
    vec_id 0 (one bounded driver fetch); centroids/codebooks are KB-scale
    driver literals."""
    emb = _read(spark, sf_dir, "embeddings")
    probe_row = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    if probe_row is None:
        # empty corpus / missing probe id: empty result, stable schema
        return emb.select(
            F.col("vec_id").alias("id"),
            F.lit(0.0).alias("adc_dist"),
            F.lit(0).cast("int").alias("rank"),
        ).limit(0)
    probe = [float(x) for x in probe_row["embedding"]]
    return simsearch.ivfadc_topk(
        emb, probe, n_probe=2, k_top=10, m=_PQ_M, pq_k=4, n_assign=2,
        exclude_id=0,
    ).orderBy("rank")


_RESID_PQ_CTES = ",\n".join(
    _pq_kmeans_ctes(
        s, s * _PQ_DSUB + 1, _PQ_DSUB,
        src="residuals", vec="resid", id_expr="vec_id",
    ).strip()
    for s in range(_PQ_M)
)

_IVFADC_DM_CTES = ",\n".join(
    f"""dm_{s} AS (
  SELECT a.id,
    list_sum(list_transform(range(1, {_PQ_DSUB + 1}), j ->
      ((pr.p[{s * _PQ_DSUB} + j] - pl.c[{s * _PQ_DSUB} + j]) - cb.c[j])
    * ((pr.p[{s * _PQ_DSUB} + j] - pl.c[{s * _PQ_DSUB} + j]) - cb.c[j]))) AS d{s}
  FROM a2_{s} a
  JOIN embeddings e ON e.vec_id = a.id
  JOIN plists pl ON pl.label = e.label
  JOIN c1_{s} cb ON cb.cluster = a.cluster, probe pr
)"""
    for s in range(_PQ_M)
)

_IVFADC_SUM = " + ".join(f"dm_{s}.d{s}" for s in range(_PQ_M))
_IVFADC_JOINS = "\n".join(
    f"JOIN dm_{s} ON dm_{s}.id = dm_0.id" for s in range(1, _PQ_M)
)

query("ann_ivfadc_topk", q_ann_ivfadc_topk, f"""
WITH qv AS (
  SELECT vec_id, label,
    list_transform(embedding, x -> floor(x::DOUBLE * 1000000)::BIGINT) AS q
  FROM embeddings
),
csum AS (
  SELECT label, t.j AS dim, sum(q[t.j]) AS s, count(*) AS cnt
  FROM qv, unnest(generate_series(1, 64)) AS t(j)
  GROUP BY label, t.j
),
cent AS (
  SELECT label, list(s::DOUBLE / (cnt * 1000000.0) ORDER BY dim) AS c
  FROM csum GROUP BY label
),
residuals AS (
  SELECT e.vec_id, e.label,
    list_transform(range(1, 65), j -> e.embedding[j]::DOUBLE - ct.c[j]) AS resid
  FROM embeddings e JOIN cent ct USING (label)
),
{_RESID_PQ_CTES},
probe AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS p
  FROM embeddings WHERE vec_id = 0
),
plists AS (
  SELECT label, c FROM (
    SELECT ct.label, ct.c,
      row_number() OVER (ORDER BY
        list_sum(list_transform(range(1, 65),
          j -> (pr.p[j] - ct.c[j]) * (pr.p[j] - ct.c[j]))) ASC,
        ct.label ASC) AS prn
    FROM cent ct, probe pr
  ) WHERE prn <= 2
),
{_IVFADC_DM_CTES}
SELECT id, adc_dist, row_number() OVER (ORDER BY adc_dist ASC, id ASC) AS rank
FROM (
  SELECT dm_0.id, {_IVFADC_SUM} AS adc_dist
  FROM dm_0
  {_IVFADC_JOINS}
  WHERE dm_0.id <> 0
)
ORDER BY adc_dist ASC, id ASC LIMIT 10
""")


# ---------------------------------------------------------------------------
# streaming dedup and sketches, real-codec decode audits
# ---------------------------------------------------------------------------


def q_streaming_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup against the historical corpus: arriving
    documents (doc_id % 10 == 0 as the stream) band-key entirely
    stateless per micro-batch via the row-local minhash, stream-static
    join the stored corpus LSH index, emit distinct collision candidates
    (streaming/events.py::streaming_lsh_dedup_probe). Candidates match
    dedup_incremental_batch's candidate stage exactly; the Jaccard verify
    stays a batch job downstream."""
    from .streaming import events as se

    apply_runtime_confs(spark)
    docs = _read(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    corpus_index = dedup.lsh_band_keys(
        dedup.minhash_signatures(dedup.word_shingles(corpus, n=3), num_hashes=16)
    )
    stream = se.read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 10 == 0
    )
    return se.run_available_now(
        se.streaming_lsh_dedup_probe(stream, corpus_index),
        output_mode="append",
    ).orderBy("batch_id", "corpus_id")


query("streaming_lsh_dedup", q_streaming_lsh_dedup, f"""
WITH {_SHINGLES_SQL.strip().lstrip(',')},
sigs AS ({_MINHASH_SQL}),
buckets AS ({_BANDS_SQL})
SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
FROM buckets b JOIN buckets c
  ON b.band = c.band AND b.bucket = c.bucket
WHERE b.id % 10 = 0 AND c.id % 10 <> 0
ORDER BY batch_id, corpus_id
""")


def q_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate COUNT(DISTINCT) under streaming: per event_type, an
    Apache DataSketches HLL (``hll_sketch_agg``, a true mergeable
    aggregate, so it runs as a streaming stateful agg in update mode)
    accumulates user_id sketches; the emitted estimate is then gated
    against the exact batch distinct — the output pins the within-5%
    boolean (lg_k=12 ≈ 1.6% typical error), so sketch drift FAILS the
    hash gate. Bounded state per key at any throughput, no raw-row
    retention."""
    from .streaming import events as se

    apply_runtime_confs(spark)
    stream = se.read_events_stream(spark, sf_dir)
    sketched = stream.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sketch")
    )
    out = se.run_available_now(sketched, output_mode="update").select(
        "event_type",
        F.expr("hll_sketch_estimate(sketch)").cast("long").alias("approx"),
    )
    exact = (
        _read(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        out.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("approx") - F.col("n_exact")) * 100
                <= F.col("n_exact") * 5
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


query("streaming_hll_distinct", q_streaming_hll_distinct, """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact,
  TRUE AS within_5pct
FROM events GROUP BY event_type ORDER BY event_type
""")

# The codec audits below are registered LAST on purpose (the end of the
# last of registry.QUERY_MODULES): the rotation sorts unverified names by
# registration position, so a new name appended at the END joins the BACK
# of the never-verified tail instead of shifting the staged driver window
# (VERDICT r5 task 1: "don't let new names shift it").


def q_real_codec_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL uncompressed codec (r6, ``numpy_uncompressed_decode``)
    under the driver's cross-engine gate — not the fake stand-in.

    Each sampled doc becomes a genuine 4×4 binary PPM whose 48 pixel
    bytes are md5(doc_id) tiled ×3; the codec header-parses and decodes
    it for real (the same code path a production PPM corpus takes), and
    the audit emits EXACT integers only: width/height/n_frames plus
    ``pixel_sum`` recovered from the float32 feature means
    ((f_r+f_g+f_b)·16·255, absolute float error ≤ ~7e-4 ≪ the 0.5
    rounding margin, so the round-trip is integer-exact). The oracle
    recomputes the same sum arithmetically from DuckDB's own md5 — two
    engines, two decoding paths, one exact answer. Compressed formats
    remain the documented seam (operators/multimodal.py)."""
    from .operators import multimodal as mm

    docs = _read(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    digest = F.unhex(F.md5(F.col("doc_id").cast("string")))
    payload = F.concat(
        F.lit(b"P6\n4 4\n255\n"), digest, digest, digest
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        "source",
    )
    decoded = mm.decode_media(
        media, decode_fn=mm.numpy_uncompressed_decode
    )
    f = F.col("features")
    return decoded.select(
        "media_id",
        "width",
        "height",
        "n_frames",
        F.round((f[0] + f[1] + f[2]) * 16 * 255)
        .cast("bigint")
        .alias("pixel_sum"),
    ).orderBy("media_id")


query("real_codec_decode_audit", q_real_codec_decode_audit, """
SELECT doc_id AS media_id, 4 AS width, 4 AS height, 1 AS n_frames,
  3 * SUM(
    16 * (strpos('0123456789abcdef',
                 substr(md5(doc_id::VARCHAR), 2 * t.i + 1, 1)) - 1)
      + strpos('0123456789abcdef',
               substr(md5(doc_id::VARCHAR), 2 * t.i + 2, 1)) - 1
  )::BIGINT AS pixel_sum
FROM documents, range(16) t(i)
WHERE doc_id % 10 = 0
GROUP BY doc_id ORDER BY media_id""")


def _dbyte_sql(idx_expr: str, md5_arg: str = "doc_id::VARCHAR") -> str:
    """DuckDB expression for byte value ``idx_expr`` (0-based) of
    md5(``md5_arg``) — the digest bytes the Spark side packs into the
    synthesized media payloads."""
    return (
        f"16 * (strpos('0123456789abcdef', substr(md5({md5_arg}), "
        f"2 * ({idx_expr}) + 1, 1)) - 1) "
        f"+ strpos('0123456789abcdef', substr(md5({md5_arg}), "
        f"2 * ({idx_expr}) + 2, 1)) - 1"
    )


def q_png_codec_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL PNG decoder (r7, ``numpy_png_decode`` — stdlib zlib +
    numpy) under the driver's cross-engine gate, on fully VALID PNGs
    synthesized in pure Column expressions.

    Each sampled doc becomes a 4×4 RGB8 PNG: scanline 0 carries filter
    None with md5(doc_id) bytes 0-11 as pixels; scanlines 1-3 carry
    filter Up (type 2) with further tiled digest bytes as deltas, so the
    decoder's unfilter pass does real mod-256 reconstruction work. The
    container is genuine end-to-end: zlib stream with a stored-DEFLATE
    block whose adler32 is computed ARITHMETICALLY from the digest bytes
    (precomputed position coefficients, mod 65521), chunk CRCs via
    Spark's built-in ``crc32`` (JVM-side), constant IHDR/IEND CRCs as
    literals. The decoder verifies every CRC and the adler (via
    zlib.decompress) before unfiltering — a wrong byte anywhere rows out
    as NULL, failing the audit. The oracle replays the Up-filter
    accumulation arithmetically from DuckDB's own md5: two engines, one
    decode answer, no shared code."""
    import struct as _st
    import zlib as _zl

    from .operators import multimodal as mm

    # r7: _spread() A/B'd and REVERTED here — the 4×4 PNG decode is so
    # cheap that 32 Python decode workers cost more than they save
    # (interleaved A/B in OPTIMIZATION_r07.md); the 32×32 JPEG audit keeps
    # its spread (real Huffman+DCT work per row)
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 5)
    hexstr = F.md5(F.col("doc_id").cast("string"))
    digest = F.unhex(hexstr)
    tiled = F.concat(digest, digest, digest)  # 48 pixel/delta bytes

    # digest byte values as ints, for the arithmetic adler32
    dbytes = [
        F.conv(F.substring(hexstr, 2 * i + 1, 2), 16, 10).cast("long")
        for i in range(16)
    ]
    # raw scanlines: [0x00 | t0..t11] [0x02 | t12..t23] ×3 → 52 bytes
    raw = F.concat(
        F.lit(b"\x00"), F.substring(tiled, 1, 12),
        F.lit(b"\x02"), F.substring(tiled, 13, 12),
        F.lit(b"\x02"), F.substring(tiled, 25, 12),
        F.lit(b"\x02"), F.substring(tiled, 37, 12),
    )
    # adler32 over the 52 raw bytes: s1 = 1 + Σb, s2 = n + Σ(n-k)·b_k
    # (0-indexed k, mod 65521). Filter bytes contribute 6 to s1 and 156
    # to s2; tiled byte j sits at position j + 1 + j//12, so its s2
    # coefficient is 51 - j - j//12 — folded per digest byte below.
    coeff = [0] * 16
    for j in range(48):
        coeff[j % 16] += 51 - j - j // 12
    s1 = (sum(dbytes[1:], dbytes[0]) * 3 + F.lit(7)) % 65521
    s2_terms = dbytes[0] * coeff[0]
    for i in range(1, 16):
        s2_terms = s2_terms + dbytes[i] * coeff[i]
    s2 = (s2_terms + F.lit(52 + 156)) % 65521
    adler = F.unhex(F.lpad(F.hex(s2 * 65536 + s1), 8, "0"))
    # zlib hdr 0x78 0x01 + stored-block hdr (final, LEN=52, NLEN=~52)
    idat_data = F.concat(F.lit(b"\x78\x01\x01\x34\x00\xcb\xff"), raw, adler)
    idat_crc = F.unhex(
        F.lpad(F.hex(F.crc32(F.concat(F.lit(b"IDAT"), idat_data))), 8, "0")
    )
    ihdr_data = _st.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    ihdr_chunk = (
        _st.pack(">I", 13) + b"IHDR" + ihdr_data
        + _st.pack(">I", _zl.crc32(b"IHDR" + ihdr_data) & 0xFFFFFFFF)
    )
    iend_chunk = b"\x00\x00\x00\x00IEND" + _st.pack(
        ">I", _zl.crc32(b"IEND") & 0xFFFFFFFF
    )
    payload = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n" + ihdr_chunk),
        F.lit(_st.pack(">I", 63) + b"IDAT"),  # 2+5+52+4 zlib bytes
        idat_data,
        idat_crc,
        F.lit(iend_chunk),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        "source",
    )
    decoded = mm.decode_media(media, decode_fn=mm.stdlib_decode)
    f = F.col("features")
    return decoded.select(
        "media_id",
        "width",
        "height",
        "n_frames",
        F.round((f[0] + f[1] + f[2]) * 16 * 255)
        .cast("bigint")
        .alias("pixel_sum"),
    ).orderBy("media_id")


# Replays q_png_codec_decode_audit's expected pixels without touching a
# single PNG byte: scanline 0 is digest bytes 0-11 verbatim (filter
# None); scanlines 1-3 add tiled digest deltas mod 256 (filter Up), so
# the oracle accumulates r0..r3 per column x exactly as the decoder's
# unfilter pass must.
query("png_codec_decode_audit", q_png_codec_decode_audit, f"""
WITH b AS (
  SELECT doc_id, t.x,
    {_dbyte_sql("t.x")} AS b0,
    {_dbyte_sql("(12 + t.x) % 16")} AS b1,
    {_dbyte_sql("(24 + t.x) % 16")} AS b2,
    {_dbyte_sql("(36 + t.x) % 16")} AS b3
  FROM documents, range(12) t(x)
  WHERE doc_id % 10 = 5
), r AS (
  SELECT doc_id,
    b0 AS r0,
    (b0 + b1) % 256 AS r1,
    ((b0 + b1) % 256 + b2) % 256 AS r2,
    (((b0 + b1) % 256 + b2) % 256 + b3) % 256 AS r3
  FROM b
)
SELECT doc_id AS media_id, 4 AS width, 4 AS height, 1 AS n_frames,
  SUM(r0 + r1 + r2 + r3)::BIGINT AS pixel_sum
FROM r GROUP BY doc_id ORDER BY media_id""")


def q_wav_codec_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real PCM WAV decode path (``numpy_uncompressed_decode``'s
    ``_wav``) under the driver's cross-engine gate — the audio analog of
    the PPM/PNG audits (r7; previously unit-tested only).

    Each sampled doc becomes a valid 16-bit mono 8 kHz WAV whose 8
    samples are md5(doc_id) interpreted as little-endian int16; the RIFF/
    fmt/data framing is constant so the whole header is a literal and
    only the sample bytes vary. The audit recovers EXACT integers from
    the float feature vector: sample_sum = round(mean·n·32768) (|sum| ≤
    2^18, float32 abs error ~0.02 ≪ 0.5), min/max samples directly from
    features 2/3. The oracle rebuilds the int16 values arithmetically
    from DuckDB's md5 (lo + 256·hi, two's complement)."""
    import struct as _st

    from .operators import multimodal as mm

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 2)
    digest = F.unhex(F.md5(F.col("doc_id").cast("string")))  # 16 B = 8 samples
    fmt = _st.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    header = (
        b"RIFF" + _st.pack("<I", 4 + 8 + len(fmt) + 8 + 16) + b"WAVE"
        + b"fmt " + _st.pack("<I", len(fmt)) + fmt
        + b"data" + _st.pack("<I", 16)
    )
    payload = F.concat(F.lit(header), digest)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        "source",
    )
    decoded = mm.decode_media(media, decode_fn=mm.stdlib_decode)
    f = F.col("features")
    return decoded.select(
        "media_id",
        F.col("width").alias("n_channels"),
        F.col("height").alias("sample_rate"),
        F.col("n_frames").alias("n_samples"),
        F.round(f[0] * 8 * 32768).cast("bigint").alias("sample_sum"),
        F.round(f[2] * 32768).cast("bigint").alias("min_sample"),
        F.round(f[3] * 32768).cast("bigint").alias("max_sample"),
    ).orderBy("media_id")


# Rebuilds the 8 little-endian int16 samples (lo + 256·hi, two's
# complement) from DuckDB's md5 — the WAV bytes never exist oracle-side.
query("wav_codec_decode_audit", q_wav_codec_decode_audit, f"""
WITH s AS (
  SELECT doc_id,
    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS smp
  FROM (
    SELECT doc_id,
      {_dbyte_sql("2 * t.i")} + 256 * ({_dbyte_sql("2 * t.i + 1")}) AS raw
    FROM documents, range(8) t(i)
    WHERE doc_id % 10 = 2
  )
)
SELECT doc_id AS media_id, 1 AS n_channels, 8000 AS sample_rate,
  8 AS n_samples,
  SUM(smp)::BIGINT AS sample_sum,
  MIN(smp)::BIGINT AS min_sample,
  MAX(smp)::BIGINT AS max_sample
FROM s GROUP BY doc_id ORDER BY media_id""")


def q_bmp_codec_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real 24-bit BMP decode path (``_bmp``) under the driver's
    cross-engine gate (r7). The 4×4 pixel array is md5(doc_id) ∥
    md5(doc_id·'x') ∥ md5(doc_id) — two DIFFERENT digests, so the three
    per-channel sums differ and the decoder's BGR→RGB reorder is
    actually verified (a uniform 3× tiling makes all channel sums
    collapse to Σdigest because gcd(3,16)=1, hiding a swapped-channel
    bug). BMP stores byte j as the {B,G,R}[j%3] of pixel j//3, bottom-up
    (row order cancels in sums; the flip is ground-truth unit-tested).
    The oracle walks the same 48 stored positions from DuckDB's md5."""
    import struct as _st

    from .operators import multimodal as mm

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 7)
    d1 = F.unhex(F.md5(F.col("doc_id").cast("string")))
    d2 = F.unhex(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("x"))))
    pixels = F.concat(d1, d2, d1)  # 48 B: 4 rows × 4 px × BGR
    header = _st.pack("<2sIHHI", b"BM", 54 + 48, 0, 0, 54) + _st.pack(
        "<IiiHHIIiiII", 40, 4, 4, 1, 24, 0, 48, 2835, 2835, 0, 0
    )
    payload = F.concat(F.lit(header), pixels)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        "source",
    )
    decoded = mm.decode_media(media, decode_fn=mm.stdlib_decode)
    f = F.col("features")
    return decoded.select(
        "media_id",
        "width",
        "height",
        "n_frames",
        F.round(f[0] * 16 * 255).cast("bigint").alias("r_sum"),
        F.round(f[1] * 16 * 255).cast("bigint").alias("g_sum"),
        F.round(f[2] * 16 * 255).cast("bigint").alias("b_sum"),
    ).orderBy("media_id")


# Walks the 48 stored BMP bytes (d1 ∥ d2 ∥ d1, BGR interleaved) and
# groups by j % 3 — channel sums differ because the two digests differ.
query("bmp_codec_decode_audit", q_bmp_codec_decode_audit, f"""
WITH bytes AS (
  SELECT doc_id, t.j,
    CASE WHEN t.j < 16 THEN {_dbyte_sql("t.j")}
         WHEN t.j < 32 THEN {_dbyte_sql("t.j - 16", "doc_id::VARCHAR || 'x'")}
         ELSE {_dbyte_sql("t.j - 32")} END AS v
  FROM documents, range(48) t(j)
  WHERE doc_id % 10 = 7
)
SELECT doc_id AS media_id, 4 AS width, 4 AS height, 1 AS n_frames,
  SUM(CASE WHEN j % 3 = 2 THEN v ELSE 0 END)::BIGINT AS r_sum,
  SUM(CASE WHEN j % 3 = 1 THEN v ELSE 0 END)::BIGINT AS g_sum,
  SUM(CASE WHEN j % 3 = 0 THEN v ELSE 0 END)::BIGINT AS b_sum
FROM bytes GROUP BY doc_id ORDER BY media_id""")


def q_jpeg_codec_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full baseline-JPEG codec (r7: ``jpeg_encode_baseline`` →
    ``numpy_jpeg_decode``, pure numpy Huffman + DCT) under the driver's
    cross-engine gate — encode AND decode both run distributed inside
    Arrow-batched UDFs; DuckDB never sees a JPEG byte.

    JPEG is lossy, so the audit is built on the one exactly-recoverable
    case: each sampled doc becomes a 32×32 grayscale image of sixteen
    CONSTANT 8×8 blocks (one md5 byte each, Kronecker-expanded). A
    constant block's DCT has only a DC coefficient; with quant=1 that
    integer survives quantize→Huffman→dequantize→IDCT bit-exactly, so
    gray_sum/min_byte/max_byte recovered from the decoded features are
    EXACT integers the oracle recomputes from its own md5. The entropy
    path does real work: 16 DC Huffman symbols + EOBs per image, byte
    stuffing, canonical table reconstruction from DHT."""
    from .operators import multimodal as mm

    mm.register_codecs_by_value()  # closures capture the encoder fn
    docs = _spread(
        _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 3)
    )
    seeds = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.md5(F.col("doc_id").cast("string"))).alias("seed"),
        "source",
    )
    encode_fn = mm.jpeg_encode_baseline

    def encode(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            payloads = []
            for seed in pdf["seed"]:
                d = _np.frombuffer(bytes(seed), dtype=_np.uint8)
                arr = _np.kron(
                    d.reshape(4, 4), _np.ones((8, 8), dtype=_np.uint8)
                ).astype(_np.uint8)
                payloads.append(encode_fn(arr, quant=1))
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "image",
                    "payload": payloads,
                    "n_bytes": [len(p) for p in payloads],
                    "source": pdf["source"],
                }
            )

    media = seeds.mapInPandas(encode, schema=mm.MEDIA_SCHEMA)
    decoded = mm.decode_media(media, decode_fn=mm.stdlib_decode)
    f = F.col("features")
    return decoded.select(
        "media_id",
        "width",
        "height",
        "n_frames",
        F.round(f[0] * 1024 * 255).cast("bigint").alias("gray_sum"),
        F.round(f[4] * 255).cast("bigint").alias("min_byte"),
        F.round(f[5] * 255).cast("bigint").alias("max_byte"),
    ).orderBy("media_id")


# The JPEG audit's 16 constant blocks are md5 bytes; the oracle never
# builds a JPEG — the constant-block DC path is exact, so plain digest
# arithmetic IS the decoded answer.
query("jpeg_codec_decode_audit", q_jpeg_codec_decode_audit, f"""
SELECT doc_id AS media_id, 32 AS width, 32 AS height, 1 AS n_frames,
  (64 * SUM(b))::BIGINT AS gray_sum,
  MIN(b)::BIGINT AS min_byte,
  MAX(b)::BIGINT AS max_byte
FROM (
  SELECT doc_id, {_dbyte_sql("t.i")} AS b
  FROM documents, range(16) t(i)
  WHERE doc_id % 10 = 3
)
GROUP BY doc_id ORDER BY media_id""")


def q_gif_codec_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real GIF codec (r7: LZW in pure Python, ``gif_encode_gray`` →
    ``numpy_gif_decode``) under the driver's cross-engine gate. Each
    sampled doc's md5 becomes a 4×4 index image over the identity
    grayscale palette, LZW-compressed into a genuine GIF87a in one Arrow
    UDF and decoded by the full container walk (sub-block reassembly,
    variable-width LSB-first codes, clear/KwKwK handling) in another.
    GIF is lossless, so the decoded gray sums equal plain digest
    arithmetic — which is exactly what the DuckDB oracle computes,
    having never seen a GIF byte."""
    from .operators import multimodal as mm

    mm.register_codecs_by_value()
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 8)
    seeds = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.md5(F.col("doc_id").cast("string"))).alias("seed"),
        "source",
    )
    encode_fn = mm.gif_encode_gray

    def encode(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            payloads = [
                encode_fn(
                    _np.frombuffer(bytes(seed), dtype=_np.uint8).reshape(4, 4)
                )
                for seed in pdf["seed"]
            ]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "image",
                    "payload": payloads,
                    "n_bytes": [len(p) for p in payloads],
                    "source": pdf["source"],
                }
            )

    media = seeds.mapInPandas(encode, schema=mm.MEDIA_SCHEMA)
    decoded = mm.decode_media(media, decode_fn=mm.stdlib_decode)
    f = F.col("features")
    return decoded.select(
        "media_id",
        "width",
        "height",
        "n_frames",
        F.round(f[0] * 16 * 255).cast("bigint").alias("gray_sum"),
        F.round(f[4] * 255).cast("bigint").alias("min_byte"),
        F.round(f[5] * 255).cast("bigint").alias("max_byte"),
    ).orderBy("media_id")


# GIF is lossless over an identity-gray palette: decoded gray sums ARE
# digest sums. Same arithmetic shape as the JPEG audit, different sample.
query("gif_codec_decode_audit", q_gif_codec_decode_audit, f"""
SELECT doc_id AS media_id, 4 AS width, 4 AS height, 1 AS n_frames,
  SUM(b)::BIGINT AS gray_sum,
  MIN(b)::BIGINT AS min_byte,
  MAX(b)::BIGINT AS max_byte
FROM (
  SELECT doc_id, {_dbyte_sql("t.i")} AS b
  FROM documents, range(16) t(i)
  WHERE doc_id % 10 = 8
)
GROUP BY doc_id ORDER BY media_id""")


def q_ulaw_codec_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 µ-law companded audio (r7: WAV fmt 7 in ``_wav``) under the
    driver's cross-engine gate. The µ-law expansion is CLOSED-FORM
    integer arithmetic — complement, mantissa·8 + 132 bias, shift by the
    segment, re-bias, sign — so while Spark runs the real vectorized
    decoder over genuine WAV bytes, DuckDB evaluates the same formula
    symbolically per digest byte. Sixteen companded samples per doc;
    sample_sum/min/max recovered exactly from the feature floats
    (|linear| ≤ 8031 ≪ the float32 margin)."""
    import struct as _st

    from .operators import multimodal as mm

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 9)
    digest = F.unhex(F.md5(F.col("doc_id").cast("string")))  # 16 µ-law bytes
    fmt = _st.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    header = (
        b"RIFF" + _st.pack("<I", 4 + 8 + len(fmt) + 8 + 16) + b"WAVE"
        + b"fmt " + _st.pack("<I", len(fmt)) + fmt
        + b"data" + _st.pack("<I", 16)
    )
    payload = F.concat(F.lit(header), digest)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        "source",
    )
    decoded = mm.decode_media(media, decode_fn=mm.stdlib_decode)
    f = F.col("features")
    return decoded.select(
        "media_id",
        F.col("width").alias("n_channels"),
        F.col("height").alias("sample_rate"),
        F.col("n_frames").alias("n_samples"),
        F.round(f[0] * 16 * 32768).cast("bigint").alias("sample_sum"),
        F.round(f[2] * 32768).cast("bigint").alias("min_sample"),
        F.round(f[3] * 32768).cast("bigint").alias("max_sample"),
    ).orderBy("media_id")


# The G.711 µ-law expansion evaluated symbolically: u = 255-b;
# linear = ±(((u mod 16)·8 + 132) · 2^((u div 16) mod 8) − 132).
query("ulaw_codec_decode_audit", q_ulaw_codec_decode_audit, f"""
WITH s AS (
  SELECT doc_id,
    CASE WHEN u >= 128 THEN 132 - t ELSE t - 132 END AS smp
  FROM (
    SELECT doc_id, u,
      ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) AS t
    FROM (
      SELECT doc_id, 255 - ({_dbyte_sql("t.i")}) AS u
      FROM documents, range(16) t(i)
      WHERE doc_id % 10 = 9
    )
  )
)
SELECT doc_id AS media_id, 1 AS n_channels, 8000 AS sample_rate,
  16 AS n_samples,
  SUM(smp)::BIGINT AS sample_sum,
  MIN(smp)::BIGINT AS min_sample,
  MAX(smp)::BIGINT AS max_sample
FROM s GROUP BY doc_id ORDER BY media_id""")
