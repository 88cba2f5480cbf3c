"""Bloom-filter runtime join pruning as an explicit, auditable operator.

The 100 TB pattern: a selective dimension predicate should prune the fact
scan BEFORE the fact ever reaches a shuffle join. Spark's own runtime
filters (`spark.sql.optimizer.runtime.bloomFilter.enabled`) inject this
automatically when statistics justify it, but the injected sketch is
opaque — you cannot audit its false-positive rate, pin its size, or reuse
it across queries. This module builds the same thing declaratively:

- **Build** (`bloom_filter_map`): hash every dimension key with
  ``N_HASHES`` seeded md5 positions into an ``M_BITS``-wide bitmap,
  packed 32 bits per word via ``bit_or`` — a groupBy over at most
  ``N_HASHES × |dim|`` tiny rows producing ≤ ``M_BITS/32`` words, then
  collapsed to ONE row holding a ``map<long,long>``. At m = 16 Ki bits
  that is a ≤2 KiB broadcast no matter how large the dimension's table
  is on disk.
- **Probe** (`with_bloom_membership`): the fact side gets a boolean
  ``bloom_pass`` column from pure per-row expressions — md5 → word lookup
  (``element_at`` on the broadcast map) → bit test. No explode, no
  shuffle, no Python: the membership test rides the scan inside
  whole-stage codegen, so a 100 TB probe pays zero extra passes and the
  downstream join sees only ``n_exact + fp`` rows instead of the whole
  fact.

Build and probe read the same two module constants, so a build/probe
width or hash-count mismatch cannot be written. False negatives are
impossible by construction (every dim key sets all its bits); the
paired query `bloom_join_prune` PROVES that per run by counting
exact-matching rows that fail the bloom test (must be 0) and audits
the false-positive rate against the classic ``(1 - e^{-kn/m})^k``
expectation.

Everything is exact integer math on the seeded-md5 idiom shared with
operators/training.py, so the DuckDB oracle reproduces the bitmap — and
therefore the exact candidate set — bit for bit.

Reference parity note: the reference engine has no bloom pruning; this is
part of the beyond-parity scale surface (SURVEY §2 extensions), same
family as the salted/bucketed operators in operators/scale.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The one filter shape: 16 Ki bits (≤512 packed words, a ≤2 KiB map) and
# 3 seeded md5 positions per key; the oracle of bloom_join_prune rebuilds
# the same bitmap.
M_BITS = 16384
N_HASHES = 3
# 32 bits per packed word: 1 << 31 still fits a signed 64-bit integer on
# both engines (DuckDB's checked BIGINT << would overflow at 1 << 63).
_WORD_BITS = 32


def _position(key: Column, seed: int) -> Column:
    """Bloom position i for ``key``: first 28 bits of the seeded md5,
    mod ``M_BITS`` — `('0x' || substr(md5('bf<i>:' || key), 1, 7))
    ::BIGINT % m` in DuckDB, identical lowercase-hex md5 on both."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.encode(F.concat(F.lit(f"bf{seed}:"), key.cast("string")),
                             "utf-8")
                ),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        % M_BITS
    )


def _bit(h: Column) -> Column:
    """The word bit of position ``h``: ``1 << (h & 31)``. shiftleft goes
    through call_function: the Python wrapper only takes a literal int
    for numBits, the SQL function takes a column."""
    return F.call_function(
        "shiftleft",
        F.lit(1).cast("long"),
        h.bitwiseAND(F.lit(_WORD_BITS - 1)).cast("int"),
    )


def bloom_filter_map(dim: DataFrame, key: str) -> DataFrame:
    """1-row DataFrame ``(fmap map<long,long>)``: the packed bloom bitmap
    over ``dim[key]``.

    The groupBy shuffles at most ``N_HASHES × |dim|`` (word, bit) pairs
    into ≤ ``M_BITS/32`` groups; the final collect_list is over those
    ≤512 words — driver-safe at any dimension size that a bloom filter
    of this width is useful for.
    """
    k = F.col(key)
    positions = dim.select(
        F.explode(F.array(*[_position(k, i) for i in range(N_HASHES)]))
        .alias("h")
    )
    words = positions.groupBy(F.shiftright(F.col("h"), 5).alias("w")).agg(
        F.bit_or(_bit(F.col("h"))).alias("bits")
    )
    return words.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("w"), F.col("bits")))
        ).alias("fmap")
    )


def with_bloom_membership(
    probe: DataFrame, key: str, filter_row: DataFrame
) -> DataFrame:
    """Attach ``bloom_pass`` to ``probe`` via a broadcast of the 1-row
    filter: true when all ``N_HASHES`` bits for ``key`` are set in
    ``fmap``, NULL for a NULL key.

    The cross join is a 1-row broadcast (allowlisted nested-loop shape,
    same class as the scalar-stats crosses in tools/plan_audit.py); the
    membership predicate itself is pure Column expressions, evaluated
    row-at-a-time inside codegen on the probe scan — no join, shuffle or
    explode on the probe side.
    """
    hits = []
    for i in range(N_HASHES):
        h = _position(F.col(key), i)
        word = F.coalesce(
            F.element_at(F.col("fmap"), F.shiftright(h, 5)),
            F.lit(0).cast("long"),
        )
        hits.append(word.bitwiseAND(_bit(h)) != F.lit(0))
    passed = hits[0]
    for hit in hits[1:]:
        passed = passed & hit
    return probe.crossJoin(F.broadcast(filter_row)).withColumn(
        "bloom_pass", passed
    )
