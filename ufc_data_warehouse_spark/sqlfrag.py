"""Shared DuckDB-oracle SQL fragments.

A leaf module (it imports nothing from this package): the normalization,
tokenization and MinHash/LSH fragments that several query modules'
oracles share live here once, so a query module needs no other query
module to build its oracle text."""

from __future__ import annotations

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"

# --- MinHash/LSH pipeline fragments ---

_SHINGLES_SQL = f"""
doc_toks AS (
  SELECT doc_id AS id, {_TOKS_SQL} AS toks FROM documents
),
shingles AS (
  SELECT DISTINCT id, array_to_string(toks[pos:pos+2], ' ') AS shingle
  FROM doc_toks, unnest(generate_series(1, len(toks) - 2)) AS t(pos)
  WHERE len(toks) >= 3
)"""

_MINHASH_SQL = (
    "SELECT id, "
    + ", ".join(f"min(md5('{i}:' || shingle)) AS sig_{i}" for i in range(16))
    + " FROM shingles GROUP BY id"
)

_BANDS_SQL = " UNION ALL ".join(
    f"SELECT id, {b} AS band, md5(sig_{b * 4} || '|' || sig_{b * 4 + 1} || '|' "
    f"|| sig_{b * 4 + 2} || '|' || sig_{b * 4 + 3}) AS bucket FROM sigs"
    for b in range(4)
)

_JACCARD_CORE_SQL = """
sizes AS (SELECT id, count(*) AS n FROM shingles GROUP BY id),
shared AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
),
jac AS (
  SELECT s.id_a, s.id_b, s.shared,
    (na.n + nb.n - s.shared) AS union_size,
    s.shared::DOUBLE / (na.n + nb.n - s.shared) AS jaccard
  FROM shared s JOIN sizes na ON s.id_a = na.id JOIN sizes nb ON s.id_b = nb.id
)"""
