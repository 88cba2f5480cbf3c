"""Training-data curation queries: PII redaction, benchmark
decontamination, per-domain quota retention, and sharded export — the
curation steps a pretraining pipeline runs between dedup/quality filtering
and the final training-set write.

No reference analog (reshefsharvit/ufc-data-warehouse is a batch warehouse
with no curation surface — SURVEY.md §2.9/§2.10); these extend it the same
way operators/dedup.py and operators/training.py do. Each query pairs a
Spark callable with a DuckDB oracle over the same parquet views; string
and integer outputs only, so cross-engine hash comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import dedup, simsearch, text, training
from .registry import query
from .sources.ingest import read_table as _read
from .sqlfrag import _NORM_SQL, _SHINGLES_SQL, _TOKS_SQL


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# The synthetic documents table carries no PII, so the query seeds
# deterministic PII spans (built from doc_id, identically in both engines)
# before scrubbing — the redaction path is exercised on real matches, not
# no-ops.
_PII_SEED_SQL = """
  SELECT doc_id, text
    || CASE WHEN doc_id % 7 = 0
            THEN ' mail u' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' from 10.0.' || (doc_id % 256) || '.1' ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' call 555-010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
            ELSE '' END AS text
  FROM documents
"""


def _pii_seeded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    email = F.when(
        did % 7 == 0,
        F.concat(F.lit(" mail u"), did.cast("string"), F.lit("@example.com")),
    ).otherwise("")
    ip = F.when(
        did % 5 == 0,
        F.concat(F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".1")),
    ).otherwise("")
    phone = F.when(
        did % 11 == 0,
        F.concat(
            F.lit(" call 555-010-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise("")
    return docs.select(
        "doc_id", F.concat(F.col("text"), email, ip, phone).alias("text")
    )


def q_text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-shuffle map-only scrub: counts + typed-placeholder redaction."""
    return text.redact_pii(_pii_seeded_docs(spark, sf_dir)).orderBy("id")


def _pii_oracle() -> str:
    counts = ",\n  ".join(
        f"len(regexp_extract_all(text, '{pat}'))::INT AS n_{name}"
        for name, pat, _ in text.PII_PATTERNS
    )
    red = "text"
    for _, pat, token in text.PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    return f"""
WITH seeded AS ({_PII_SEED_SQL})
SELECT doc_id AS id,
  {counts},
  {red} AS redacted
FROM seeded ORDER BY id"""


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def q_decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train docs sharing >=3 word-3-gram shingles with the eval subset
    (doc_id % 23 == 0 stands in for a benchmark corpus). The eval side is
    benchmark-sized regardless of train scale -> BROADCAST inverted-index
    probe; train shingles never shuffle."""
    from .extra_queries import _shingles

    sh = _shingles(spark, sf_dir)
    ev = sh.filter(F.col("id") % 23 == 0)
    tr = sh.filter(F.col("id") % 23 != 0)
    return dedup.contamination_pairs(tr, ev, min_shared=3).orderBy(
        "train_id", "eval_id"
    )


_DECONTAM_ORACLE_TMPL = """
WITH {shingles},
ev AS (SELECT id, shingle FROM shingles WHERE id % 23 = 0),
tr AS (SELECT id, shingle FROM shingles WHERE id % 23 <> 0)
SELECT t.id AS train_id, e.id AS eval_id, count(*) AS shared_shingles
FROM tr t JOIN ev e ON t.shingle = e.shingle
GROUP BY t.id, e.id HAVING count(*) >= 3
ORDER BY train_id, eval_id"""


# ---------------------------------------------------------------------------
# incremental dedup + shingle frequency
# ---------------------------------------------------------------------------


def q_incremental_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-load dedup: new docs (doc_id % 3 == 0 stands in for the
    incoming batch) exactly-Jaccard-matched against the existing corpus;
    the corpus×corpus pair space never materializes."""
    from .extra_queries import _shingles

    sh = _shingles(spark, sf_dir)
    new = sh.filter(F.col("id") % 3 == 0)
    old = sh.filter(F.col("id") % 3 != 0)
    return dedup.cross_corpus_jaccard(new, old, min_jaccard=0.2).orderBy(
        "new_id", "old_id"
    )


_INCR_DEDUP_ORACLE_TMPL = """
WITH {shingles},
new_sh AS (SELECT id, shingle FROM shingles WHERE id % 3 = 0),
old_sh AS (SELECT id, shingle FROM shingles WHERE id % 3 <> 0),
n_sizes AS (SELECT id, count(*) AS n_new FROM new_sh GROUP BY id),
o_sizes AS (SELECT id, count(*) AS n_old FROM old_sh GROUP BY id),
shared AS (
  SELECT n.id AS new_id, o.id AS old_id, count(*) AS shared
  FROM new_sh n JOIN old_sh o ON n.shingle = o.shingle
  GROUP BY n.id, o.id
)
SELECT s.new_id, s.old_id, s.shared,
  (ns.n_new + os.n_old - s.shared) AS union_size,
  s.shared::DOUBLE / (ns.n_new + os.n_old - s.shared) AS jaccard
FROM shared s
JOIN n_sizes ns ON s.new_id = ns.id
JOIN o_sizes os ON s.old_id = os.id
WHERE s.shared::DOUBLE / (ns.n_new + os.n_old - s.shared) >= 0.2
ORDER BY new_id, old_id"""


def q_shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency histogram — the profiling step behind
    stop-shingle removal (two chained aggs; the first partial-aggregates
    the Zipf head map-side)."""
    from .extra_queries import _shingles

    freq = dedup.shingle_doc_frequency(_shingles(spark, sf_dir))
    return (
        freq.groupBy("doc_freq")
        .agg(F.count("*").alias("n_shingles"))
        .orderBy("doc_freq")
    )


_SHINGLE_DF_ORACLE_TMPL = """
WITH {shingles},
freq AS (SELECT shingle, count(*) AS doc_freq FROM shingles GROUP BY shingle)
SELECT doc_freq, count(*) AS n_shingles
FROM freq GROUP BY doc_freq ORDER BY doc_freq"""


# ---------------------------------------------------------------------------
# per-domain quota retention
# ---------------------------------------------------------------------------


def q_quota_top_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the 30 best-quality docs per source ("at most N pages per
    domain"): quality scoring is a map-only projection; the quota is ONE
    keyed window shuffle on the source key."""
    docs = _read(spark, sf_dir, "documents")
    scored = docs.select(F.col("doc_id").alias("id"), "source").join(
        text.quality_score(docs), "id"
    )
    kept = training.quota_top_per_source(
        scored.select("id", "source", F.col("quality").alias("score")),
        quota=30,
    )
    return kept.select("source", "rk", "id", "score").orderBy("source", "rk")


def _quota_oracle() -> str:
    return f"""
WITH q AS (
  SELECT doc_id AS id, source,
    (CASE WHEN length({_NORM_SQL}) BETWEEN 100 AND 20000 THEN 1 ELSE 0 END
     + CASE WHEN len(list_distinct({_TOKS_SQL})) * 5 >= len({_TOKS_SQL})
            THEN 1 ELSE 0 END
     + CASE WHEN length(regexp_replace({_NORM_SQL}, '[^a-z]', '', 'g')) * 5
              >= length({_NORM_SQL}) * 3 THEN 1 ELSE 0 END) AS score
  FROM documents
),
ranked AS (
  SELECT source, id, score,
    row_number() OVER (PARTITION BY source ORDER BY score DESC, id ASC) AS rk
  FROM q
)
SELECT source, rk::INT AS rk, id, score
FROM ranked WHERE rk <= 30 ORDER BY source, rk"""


def q_stratified_fixed_n_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 10 uniformly-chosen docs per source (seeded-hash order) —
    the unbiased eval-holdout counterpart to the score-ranked quota.
    Kept set is a pure function of (source, id, seed): identical under
    reruns and any partitioning, which ``df.sample`` never guarantees."""
    docs = _read(spark, sf_dir, "documents")
    kept = training.fixed_n_per_key(
        docs.select(F.col("doc_id").alias("id"), "source"),
        n=10,
        key_col="source",
        id_col="id",
        seed=7,
    )
    return kept.select("source", "rk", "id").orderBy("source", "rk")


_STRATIFIED_SAMPLE_ORACLE = """
WITH ranked AS (
  SELECT source, doc_id AS id,
    row_number() OVER (
      PARTITION BY source ORDER BY md5('7:' || doc_id) ASC, doc_id ASC
    ) AS rk
  FROM documents
)
SELECT source, rk::INT AS rk, id
FROM ranked WHERE rk <= 10 ORDER BY source, rk"""


# ---------------------------------------------------------------------------
# sharded export
# ---------------------------------------------------------------------------


def q_shard_assignment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-mod shard layout of the export: per-shard row
    count + id range. Assignment is a pure projection (no shuffle); the
    verifying agg is one exchange on the 8 shard keys."""
    docs = _read(spark, sf_dir, "documents")
    return (
        training.shard_assignments(docs, "doc_id", n_shards=8)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("shard")
    )


_SHARD_ORACLE = """
WITH assigned AS (
  SELECT doc_id,
    (('0x' || substr(md5('42:' || doc_id), 1, 8))::BIGINT % 8)::INT AS shard
  FROM documents
)
SELECT shard, count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM assigned GROUP BY shard ORDER BY shard"""


# ---------------------------------------------------------------------------
# SCD Type 2 + CDC apply (warehouse dimension maintenance)
# ---------------------------------------------------------------------------


def q_scd2_user_status_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History-preserving dimension build: user status (event_type)
    versions with validity intervals; consecutive duplicates collapsed.
    Both windows share one (key, order) spec — ONE exchange total."""
    from .operators import scd

    ev = _read(spark, sf_dir, "events")
    return scd.scd2_build(ev, "user_id", "event_type", "ts", "event_id").orderBy(
        "key", "version"
    )


_SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev IS DISTINCT FROM event_type
)
SELECT user_id AS key,
  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)::INT AS version,
  event_type AS attr, ts AS valid_from,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
  CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       THEN 1 ELSE 0 END AS is_current
FROM changes ORDER BY key, version"""


def q_cdc_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: even event_ids form the base snapshot (latest value per
    user), odd signup/purchase/error events form an I/U/D feed;
    last-writer-wins merge yields the final per-user state."""
    from .operators import scd

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_cents", F.floor(F.col("value") * 100).cast("long")
    )
    wb = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    base = (
        ev.filter(F.col("event_id") % 2 == 0)
        .withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") == 1)
        .select("user_id", "value_cents")
    )
    changes = (
        ev.filter(
            (F.col("event_id") % 2 == 1)
            & F.col("event_type").isin("signup", "purchase", "error")
        )
        .withColumn(
            "op",
            F.when(F.col("event_type") == "signup", "I")
            .when(F.col("event_type") == "purchase", "U")
            .otherwise("D"),
        )
        .select("user_id", "ts", "event_id", "op", "value_cents")
    )
    return scd.cdc_apply(
        base, changes, "user_id", "op", ["ts", "event_id"], ["value_cents"]
    ).orderBy("user_id")


_CDC_ORACLE = """
WITH ev AS (
  SELECT event_id, ts, user_id, event_type,
    floor(value * 100)::BIGINT AS value_cents
  FROM events
),
base AS (
  SELECT user_id, value_cents FROM (
    SELECT user_id, value_cents,
      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev WHERE event_id % 2 = 0
  ) WHERE rn = 1
),
chg AS (
  SELECT user_id, ts, event_id, value_cents,
    CASE event_type WHEN 'signup' THEN 'I' WHEN 'purchase' THEN 'U'
         ELSE 'D' END AS op
  FROM ev
  WHERE event_id % 2 = 1 AND event_type IN ('signup', 'purchase', 'error')
),
latest AS (
  SELECT user_id, op, value_cents FROM (
    SELECT user_id, op, value_cents,
      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM chg
  ) WHERE rn = 1
)
SELECT b.user_id, b.value_cents
FROM base b LEFT JOIN latest l USING (user_id) WHERE l.user_id IS NULL
UNION ALL
SELECT user_id, value_cents FROM latest WHERE op <> 'D'
ORDER BY user_id"""


# ---------------------------------------------------------------------------
# Pandas grouped-agg UDAF (robust stats)
# ---------------------------------------------------------------------------


def q_udaf_robust_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched grouped-agg UDAF: exact median + MAD of event value
    per USER (one keyed exchange, one Arrow batch per group).

    Keyed by user_id (r5): a grouped-agg pandas UDAF has no mergeable
    partial form — Spark feeds each group's ENTIRE value series to one
    task — so the demo key must be high-cardinality. The prior
    event_type key (~5 values) meant one task buffering ~1/5 of the
    table at 100 TB; exact per-low-card-key medians belong to the
    distinct-value-count shape (mad_value_outliers) instead."""
    from .operators import udafs

    events = _read(spark, sf_dir, "events")
    return udafs.robust_stats(events, "user_id", "value")


_UDAF_ORACLE = """
WITH med AS (
  SELECT user_id, median(value) AS m FROM events GROUP BY user_id
)
SELECT e.user_id, count(*) AS n,
  round(median(e.value), 6) AS median_value,
  round(median(abs(e.value - m.m)), 6) AS mad_value
FROM events e JOIN med m USING (user_id)
GROUP BY e.user_id ORDER BY e.user_id"""


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (k=8, w=4) selected-hash fingerprints per document —
    zero-shuffle map-only before the distinct."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.winnow_fingerprints(docs, k=8, w=4).orderBy("id", "pos", "fp")


def q_winnow_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap pairs via shared winnowing fingerprints (inverted-
    index join on the hash, >=30 shared)."""
    docs = _read(spark, sf_dir, "documents")
    fps = dedup.winnow_fingerprints(docs, k=8, w=4)
    return dedup.winnow_match_pairs(fps, min_shared=30).orderBy("id_a", "id_b")


_WINNOW_CTES = """
base AS (
  SELECT doc_id AS id, {norm} AS norm FROM documents
  WHERE length({norm}) >= 11
),
hs AS (
  SELECT id, list_transform(range(0, length(norm) - 8 + 1),
    i -> ('0x' || substr(md5(substr(norm, i + 1, 8)), 1, 15))::BIGINT) AS hashes
  FROM base
),
wins AS (
  SELECT id, unnest(list_transform(range(0, len(hashes) - 3),
    j -> struct_pack(pos := j + list_position(list_slice(hashes, j + 1, j + 4),
                        list_min(list_slice(hashes, j + 1, j + 4))) - 1,
                     fp := list_min(list_slice(hashes, j + 1, j + 4))))) AS s
  FROM hs
),
fps AS (SELECT DISTINCT id, s.pos::INT AS pos, s.fp AS fp FROM wins)"""


# ---------------------------------------------------------------------------
# k-means + semantic dedup (SemDeDup shape)
# ---------------------------------------------------------------------------


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means (k=4, 2 assignment passes) over the
    embeddings table. Fixed-point centroid sums make the whole algorithm
    engine-exact — the DuckDB oracle replays it fully unrolled."""
    emb = _read(spark, sf_dir, "embeddings")
    assignments, _ = simsearch.kmeans(emb, k=4, n_assign=2)
    return assignments.orderBy("id")


def q_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: near-dup candidate pairs restricted to the same k-means
    cluster (Σ|cluster|² pair space, cluster key = shuffle key), exact
    cosine verify at 0.4."""
    emb = _read(spark, sf_dir, "embeddings")
    assignments, _ = simsearch.kmeans(emb, k=4, n_assign=2)
    return simsearch.semantic_dedup_pairs(
        emb, assignments, threshold=0.4
    ).orderBy("cluster", "id_a", "id_b")


# k-means unrolled in SQL: init = 4 lowest-id vectors; assign → update →
# assign. Fixed-point (floor(x*1e6) BIGINT) component sums are exact
# integers, so centroids/distances/assignments match Spark bit-for-bit.
# Clusters are assumed non-empty after pass 1 (k=4 over >=500 docs; the
# Spark side would keep the previous centroid for an empty cluster).
_KMEANS_CTES = """
e AS (
  SELECT vec_id AS id,
    list_transform(embedding, x -> floor(x::DOUBLE * 1000000)::BIGINT) AS q
  FROM embeddings
),
init AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cluster,
    list_transform(q, v -> v::DOUBLE / 1000000.0) AS c
  FROM (SELECT id, q FROM e ORDER BY id LIMIT 4)
),
d1 AS (
  SELECT e.id, i.cluster,
    list_sum(list_transform(range(1, 65),
      j -> (e.q[j]::DOUBLE / 1000000.0 - i.c[j])
         * (e.q[j]::DOUBLE / 1000000.0 - i.c[j]))) AS dist
  FROM e, init i
),
a1 AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
      row_number() OVER (PARTITION BY id ORDER BY dist ASC, cluster ASC) AS rn
    FROM d1
  ) WHERE rn = 1
),
u1 AS (
  SELECT a1.cluster, t.j AS dim, sum(e.q[t.j]) AS s, count(*) AS cnt
  FROM a1 JOIN e USING (id), unnest(generate_series(1, 64)) AS t(j)
  GROUP BY a1.cluster, t.j
),
c1 AS (
  SELECT cluster, list(s::DOUBLE / (cnt * 1000000.0) ORDER BY dim) AS c
  FROM u1 GROUP BY cluster
),
d2 AS (
  SELECT e.id, i.cluster,
    list_sum(list_transform(range(1, 65),
      j -> (e.q[j]::DOUBLE / 1000000.0 - i.c[j])
         * (e.q[j]::DOUBLE / 1000000.0 - i.c[j]))) AS dist
  FROM e, c1 i
),
a2 AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
      row_number() OVER (PARTITION BY id ORDER BY dist ASC, cluster ASC) AS rn
    FROM d2
  ) WHERE rn = 1
)"""

_KMEANS_ORACLE = f"""
WITH {_KMEANS_CTES.strip()}
SELECT id, cluster::INT AS cluster FROM a2 ORDER BY id"""

_SEMANTIC_DEDUP_ORACLE = f"""
WITH {_KMEANS_CTES.strip()},
emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT aa.cluster::INT AS cluster, a.vec_id AS id_a, b.vec_id AS id_b
FROM a2 aa JOIN emb a ON a.vec_id = aa.id
JOIN a2 ab ON ab.cluster = aa.cluster
JOIN emb b ON b.vec_id = ab.id
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= 0.4
ORDER BY cluster, id_a, id_b"""


def q_pii_column_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance discovery over the seeded-PII corpus: per (column,
    kind) row-match counts from ONE fused scan (validation.pii_column_scan)
    — the inventory that drives redaction/retention policy."""
    from . import validation

    docs = _pii_seeded_docs(spark, sf_dir).select("text")
    return validation.pii_column_scan(docs).orderBy("kind")


def _pii_scan_oracle() -> str:
    parts = [
        f"""SELECT 'text' AS "column", '{kind}' AS kind,
  sum(CASE WHEN regexp_matches(text, '{pat}') THEN 1 ELSE 0 END)::BIGINT AS n_matches,
  count(*) AS n_rows FROM seeded"""
        for kind, pat, _ in text.PII_PATTERNS
    ]
    return (
        f"WITH seeded AS ({_PII_SEED_SQL})\n"
        + "\nUNION ALL\n".join(parts)
        + "\nORDER BY kind"
    )


def q_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment against the versioned dimension: each
    odd-id fact event is joined to the SCD2 status version (built from
    even-id events) VALID AT its timestamp — the canonical fact⋈SCD2
    warehouse pattern. Plan shape: equi-join on the user key carries the
    hash join; the validity-interval test runs as residual. Facts before
    a user's first version (or for unseen users) left-join to NULL. The
    half-open interval [valid_from, valid_to) makes each fact match AT
    MOST one version (no fan-out)."""
    from .operators import scd

    ev = _read(spark, sf_dir, "events")
    dim = scd.scd2_build(
        ev.filter(F.col("event_id") % 2 == 0),
        "user_id",
        "event_type",
        "ts",
        "event_id",
    ).select(
        F.col("key").alias("d_user"),
        F.col("attr").alias("status_at_time"),
        "valid_from",
        "valid_to",
    )
    facts = ev.filter(F.col("event_id") % 2 == 1).select(
        "user_id", "event_id", "ts"
    )
    cond = (
        (facts["user_id"] == dim["d_user"])
        & (facts["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (facts["ts"] < dim["valid_to"]))
    )
    return (
        facts.join(dim, cond, "left")
        .select("user_id", "event_id", "status_at_time")
        .orderBy("user_id", "event_id")
    )


_SCD2_PIT_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE event_id % 2 = 0
),
changes AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev IS DISTINCT FROM event_type
),
dim AS (
  SELECT user_id AS d_user, event_type AS status_at_time, ts AS valid_from,
    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM changes
),
facts AS (
  SELECT user_id, event_id, ts FROM events WHERE event_id % 2 = 1
)
SELECT f.user_id, f.event_id, d.status_at_time
FROM facts f LEFT JOIN dim d
  ON f.user_id = d.d_user AND f.ts >= d.valid_from
  AND (d.valid_to IS NULL OR f.ts < d.valid_to)
ORDER BY user_id, event_id"""


def q_curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation DAG a pretraining run executes end-to-end:

        score (lang-id + quality, ONE scan, map-only)
        → filter (english, quality ≥ 2)
        → exact dedup (md5 keyed window, keep lowest id)
        → per-source quota (top 20 by quality)
        → train/val/test split (hash projection)
        → per-(source, split) manifest aggregate

    Every stage is an operator exercised individually elsewhere
    (operators/text.py, training.py); this query proves they COMPOSE as
    one lazy plan: all scoring signals are computed in a single
    projection over a single documents scan (expression-level reuse via
    ``lang_guess_expr``/``quality_expr``), and the three keyed stages
    (dedup, quota, manifest) are the only exchanges. Nothing
    materializes between stages — Catalyst sees the whole pipeline.
    """
    docs = _read(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        F.col("doc_id").alias("id"),
        "source",
        F.md5(t).alias("text_hash"),
        F.size(text.tokens(t)).alias("n_tokens"),
        text.lang_guess_expr(t).alias("lang_guess"),
        text.quality_expr(t).alias("quality"),
    )
    filtered = scored.filter(
        (F.col("lang_guess") == "en") & (F.col("quality") >= 2)
    )
    w_dedup = Window.partitionBy("text_hash").orderBy("id")
    deduped = (
        filtered.withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "text_hash")
    )
    w_quota = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("id")
    )
    quota = (
        deduped.withColumn("rk", F.row_number().over(w_quota))
        .filter(F.col("rk") <= 20)
    )
    out = training.assign_split(quota, "id")
    return (
        out.groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("quality").cast("long").alias("total_quality"),
        )
        .orderBy("source", "split")
    )


def _pipeline_oracle() -> str:
    from .extra_queries import _split_case_sql, _STOPLIST_SQL

    return f"""
WITH scored AS (
  SELECT doc_id AS id, source, md5(text) AS text_hash,
    len({_TOKS_SQL})::INT AS n_tokens,
    CASE WHEN len(list_filter({_TOKS_SQL},
                   t -> list_contains({_STOPLIST_SQL}, t))) * 20
              >= len({_TOKS_SQL}) THEN 'en' ELSE 'und' END AS lang_guess,
    (CASE WHEN length({_NORM_SQL}) BETWEEN 100 AND 20000 THEN 1 ELSE 0 END
     + CASE WHEN len(list_distinct({_TOKS_SQL})) * 5 >= len({_TOKS_SQL})
            THEN 1 ELSE 0 END
     + CASE WHEN length(regexp_replace({_NORM_SQL}, '[^a-z]', '', 'g')) * 5
              >= length({_NORM_SQL}) * 3 THEN 1 ELSE 0 END) AS quality
  FROM documents
),
filtered AS (
  SELECT * FROM scored WHERE lang_guess = 'en' AND quality >= 2
),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY id) AS _rn
    FROM filtered
  ) WHERE _rn = 1
),
quota AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source ORDER BY quality DESC, id ASC) AS rk
    FROM deduped
  ) WHERE rk <= 20
),
labeled AS (
  SELECT source, {_split_case_sql("id")} AS split, n_tokens, quality
  FROM quota
)
SELECT source, split, count(*) AS n_docs,
  sum(n_tokens)::BIGINT AS total_tokens,
  sum(quality)::BIGINT AS total_quality
FROM labeled GROUP BY source, split ORDER BY source, split"""


# Domain blocklist with registrable-domain semantics: an entry blocks the
# exact host AND every subdomain of it. The non-matching entry pins the
# no-op path.
_DOMAIN_BLOCKLIST = ["example.de", "src3.example.en", "spam.invalid"]


def q_blocklist_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-pipeline URL blocklist filter: each document's host (derived
    ``{source}.example.{lang}``, same construction as url_host_stats) is
    checked against a domain blocklist where an entry blocks the host and
    all its subdomains. Output: per (source, lang) n_docs / n_blocked /
    n_kept.

    Scale shape: suffix matching is NOT a per-entry rlike scan (that is
    O(|blocklist|) regex work per row and unindexable). Each host explodes
    into its label-suffix chain (≤ label count, ~4 entries), which
    equi-joins the BROADCAST blocklist — one narrow explode + one
    broadcast hash join, regardless of blocklist size; the same shape a
    100 TB crawl uses for public-suffix and robots policy tables.
    """
    docs = _read(spark, sf_dir, "documents")
    host = F.concat_ws(".", F.col("source"), F.lit("example"), F.col("lang"))
    base = docs.select("doc_id", "source", "lang", host.alias("host"))
    labels = F.split(F.col("host"), r"\.")
    chain = F.transform(
        F.sequence(F.lit(1), F.size(labels)),
        lambda i: F.array_join(F.slice(labels, i, F.size(labels)), "."),
    )
    bl = spark.createDataFrame(
        [(d,) for d in _DOMAIN_BLOCKLIST], "suffix string"
    )
    blocked = (
        base.select("doc_id", F.explode(chain).alias("suffix"))
        .join(F.broadcast(bl), "suffix")
        .select("doc_id")
        .distinct()
        .withColumn("is_blocked", F.lit(1))
    )
    return (
        base.join(blocked, "doc_id", "left")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("is_blocked"), F.lit(0)))
            .cast("long")
            .alias("n_blocked"),
        )
        .withColumn("n_kept", F.col("n_docs") - F.col("n_blocked"))
        .orderBy("source", "lang")
    )


_BLOCKLIST_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source, lang,
    source || '.example.' || lang AS host
  FROM documents
),
chain AS (
  SELECT doc_id,
    array_to_string(list_slice(string_split(host, '.'), i,
                               len(string_split(host, '.'))), '.') AS suffix
  FROM base, unnest(generate_series(1, len(string_split(host, '.')))) AS s(i)
),
bl AS (SELECT unnest({_DOMAIN_BLOCKLIST!r}) AS suffix),
blocked AS (SELECT DISTINCT c.doc_id FROM chain c JOIN bl ON c.suffix = bl.suffix)
SELECT source, lang, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_blocked,
  (count(*) - sum(CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END))::BIGINT AS n_kept
FROM base LEFT JOIN blocked b USING (doc_id)
GROUP BY source, lang ORDER BY source, lang
"""


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer: each doc's distinct tokens hash into 64
    buckets (first 7 hex chars of md5 → int % 64 — cross-engine-identical
    and vocabulary-free, the point of feature hashing: no global vocab
    build, no OOV), emitted as sparse (doc, bucket, count) features.
    Map-side explode + one keyed agg; bucket space is fixed so the
    output width never grows with the corpus."""
    docs = _read(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(dedup.tokens(F.col("text")))).alias("token"),
    ).where(F.col("token") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 7), 16, 10)
        .cast("long") % 64
    ).alias("bucket")
    return (
        tok.select("id", bucket)
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .orderBy("id", "bucket")
    )


_FEATURE_HASH_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id AS id, t.tok AS token
  FROM (SELECT doc_id,
          string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents) d,
       unnest(toks) AS t(tok)
  WHERE t.tok <> ''
)
SELECT id, ('0x' || substr(md5(token), 1, 7))::BIGINT % 64 AS bucket,
  count(*) AS n_tokens
FROM tok GROUP BY id, bucket ORDER BY id, bucket
"""


query("text_pii_redaction", q_text_pii_redaction, _pii_oracle())
query(
    "decontaminate_ngram_overlap", q_decontaminate_ngram_overlap,
    _DECONTAM_ORACLE_TMPL.format(shingles=_SHINGLES_SQL.strip().lstrip(",")),
)
query("quota_top_docs_per_source", q_quota_top_docs_per_source, _quota_oracle())
query(
    "stratified_fixed_n_sample", q_stratified_fixed_n_sample, _STRATIFIED_SAMPLE_ORACLE
)
query("feature_hashing_sparse", q_feature_hashing, _FEATURE_HASH_ORACLE)
query("shard_assignment_counts", q_shard_assignment_counts, _SHARD_ORACLE)
query("kmeans_clusters", q_kmeans_clusters, _KMEANS_ORACLE)
query("semantic_dedup_pairs", q_semantic_dedup_pairs, _SEMANTIC_DEDUP_ORACLE)
query("winnow_fingerprints", q_winnow_fingerprints, f"""
WITH {_WINNOW_CTES.format(norm=_NORM_SQL).strip()}
SELECT id, pos, fp FROM fps ORDER BY id, pos, fp""")
query("winnow_match_pairs", q_winnow_match_pairs, f"""
WITH {_WINNOW_CTES.format(norm=_NORM_SQL).strip()}
SELECT a.id AS id_a, b.id AS id_b, count(DISTINCT a.fp) AS shared_fps
FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
GROUP BY a.id, b.id HAVING count(DISTINCT a.fp) >= 30
ORDER BY id_a, id_b""")
query("udaf_robust_value_stats", q_udaf_robust_value_stats, _UDAF_ORACLE)
query("scd2_user_status_versions", q_scd2_user_status_versions, _SCD2_ORACLE)
query("cdc_user_state", q_cdc_user_state, _CDC_ORACLE)
query(
    "incremental_dedup_pairs", q_incremental_dedup_pairs,
    _INCR_DEDUP_ORACLE_TMPL.format(shingles=_SHINGLES_SQL.strip().lstrip(",")),
)
query(
    "shingle_df_histogram", q_shingle_df_histogram,
    _SHINGLE_DF_ORACLE_TMPL.format(shingles=_SHINGLES_SQL.strip().lstrip(",")),
)
query("curation_pipeline_e2e", q_curation_pipeline_e2e, _pipeline_oracle())
query("scd2_point_in_time_join", q_scd2_point_in_time_join, _SCD2_PIT_ORACLE)
query("pii_column_scan", q_pii_column_scan, _pii_scan_oracle())
query("blocklist_domain_filter", q_blocklist_domain_filter, _BLOCKLIST_ORACLE)
