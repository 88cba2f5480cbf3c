"""Deduplication operators for large-scale training-data pipelines.

Beyond-parity surface (BASELINE.json north star): the reference has no
dedup machinery; these are the standard operators an LLM-data pipeline
needs, built Spark-first:

- exact dedup: one hash-groupBy shuffle on a fixed-width digest (never
  group by the raw text — at 100 TB the shuffle would carry the corpus);
- MinHash + LSH: shingle → signature → band-bucket join. Narrow flatMap
  for shingles, ONE groupBy per doc for signatures, ONE shuffle on band
  keys for candidates; the candidate verify join touches only bucket
  collisions, never the n² pair space;
- SimHash: 60-bit hyperplane-free fingerprint, hamming-ball pairing;
- n-gram Jaccard: exact verify used standalone (small n) or downstream of
  LSH (the scale path).

Every function is pure Column expressions (md5 / split / explode /
groupBy) — no Python UDFs — so the whole pipeline stays in Tungsten
codegen and Arrow never crosses the JVM boundary.

Determinism: MinHash permutations are ``md5(i || ':' || shingle)``
compared lexicographically (min of a hex string ≡ min under a random
permutation). This is engine-portable — the DuckDB oracle reproduces it
byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import truncate

# ---------------------------------------------------------------------------
# normalization + shingling
# ---------------------------------------------------------------------------


def normalized_text(col: F.Column) -> F.Column:
    """Lowercase, collapse whitespace, trim — the canonical form for
    fingerprinting."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: F.Column) -> F.Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalized_text(col), " ")


def word_shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    flatMap-shaped (explode) — no shuffle; ``distinct`` is deferred to the
    consumer's aggregation to avoid an extra exchange.
    """
    base = df.select(
        F.col("doc_id").alias("id"), tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= n)
    idx = F.sequence(F.lit(0), F.size("toks") - n)
    shingle = F.array_join(F.slice(F.col("toks"), F.col("pos") + 1, n), " ")
    return (
        base.select("id", F.explode(idx).alias("pos"), F.col("toks"))
        .select("id", shingle.alias("shingle"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_groups(df: DataFrame) -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n_docs, keep_id).

    Hash-groupBy on the md5 digest: the shuffle carries 32 bytes + id per
    row regardless of document size — the only exact-dedup plan that
    scales to 100 TB.
    """
    return (
        df.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id").alias("id"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Normalized-text md5 fingerprint per document (whitespace/case
    insensitive dedup key): (id, fingerprint)."""
    return df.select(
        F.col("doc_id").alias("id"),
        F.md5(normalized_text(F.col("text"))).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(id, sig_0..sig_{H-1}): per-permutation minimum of
    ``md5(i || ':' || shingle)``. One groupBy(id) shuffle; map-side partial
    mins keep the exchange tiny."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy("id").agg(*aggs)


def minhash_signatures_rowlocal(
    df: DataFrame,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, sig_0..sig_{H-1}) computed entirely ROW-LOCALLY: the shingle
    set becomes an array expression (sequence → slice → array_distinct)
    and each signature is ``array_min`` of the per-permutation hashes —
    ZERO shuffle, byte-identical to :func:`minhash_signatures` over
    :func:`word_shingles` (same distinct-shingle set, same md5 min).

    This is the signature path for STREAMS (stateless per micro-batch —
    no aggregation state) and for map-only batch stages; the groupBy
    variant remains preferable when shingles are already materialized for
    other consumers. Documents shorter than 3 tokens produce no
    shingles there and no row here (empty-set minhash is undefined).
    """
    toks = tokens(F.col("text"))
    base = df.select(
        F.col("doc_id").alias("id"), toks.alias("toks")
    ).filter(F.size("toks") >= 3)
    shingle_at = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("toks"), i + 1, 3), " "
    )
    shingles = F.array_distinct(
        F.transform(F.sequence(F.lit(0), F.size("toks") - 3), shingle_at)
    )
    def sig_expr(i: int) -> F.Column:
        # NB: the lambda must take ONE arg — F.transform passes the array
        # index to any two-arg lambda, which would shadow a default-arg i
        prefix = f"{i}:"
        return F.array_min(
            F.transform(
                F.col("shingles"), lambda s: F.md5(F.concat(F.lit(prefix), s))
            )
        )

    sigs = [sig_expr(i).alias(f"sig_{i}") for i in range(num_hashes)]
    return base.select("id", shingles.alias("shingles")).select("id", *sigs)


def lsh_band_keys(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """(id, band, bucket) — one row per document per band; bucket is the
    md5 of the band's concatenated minhashes. This IS the stored LSH
    index of a deduplicated corpus: append-only, partitionable by
    (band, bucket prefix), and probe-able by equi-join."""
    band_rows = []
    for b in range(bands):
        cols = [
            F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        band_rows.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("bucket"),
            )
        )
    return signatures.select(
        "id", F.explode(F.array(*band_rows)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def incremental_lsh_candidates(
    corpus_sigs: DataFrame,
    batch_sigs: DataFrame,
) -> DataFrame:
    """(batch_id, corpus_id) near-dup candidates of an incoming batch
    against an already-indexed corpus — the PRODUCTION dedup scenario:
    the corpus is append-only and its band keys (``lsh_band_keys``) are
    stored; each new increment computes its own band keys and probes the
    index by equi-join on (band, bucket).

    Scale shape: the batch side is BROADCAST — a daily increment is MBs
    even when the corpus index is TBs — so the corpus index streams
    map-side and is never shuffled; candidate cardinality is bucket
    collisions only. Batch-internal duplicates are a separate (tiny)
    ``lsh_candidate_pairs`` call on the batch alone.
    """
    cb = lsh_band_keys(corpus_sigs).select(
        F.col("id").alias("corpus_id"), "band", "bucket"
    )
    bb = lsh_band_keys(batch_sigs).select(
        F.col("id").alias("batch_id"), "band", "bucket"
    )
    return (
        cb.join(F.broadcast(bb), ["band", "bucket"])
        .select("batch_id", "corpus_id")
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    Band key = md5 of the band's concatenated minhashes. Pairing is ONE
    groupBy on (band, bucket) + in-array combination expansion — NOT a
    bucket self-join: a self-join would execute the whole upstream
    shingle→minhash pipeline once per join side (Catalyst does not reuse
    the common subplan), and at 100 TB that doubles the dominant cost.
    Bucket membership lists are small by LSH design (that is the point of
    banding), so collect_set per bucket is bounded; a pathological hot
    bucket (all-identical spam docs) would blow up B² pairwise on ANY
    plan — cap it upstream by exact-dedup'ing first.

    Output is distinct pairs only; verification (exact Jaccard) is the
    caller's next step.
    """
    buckets = lsh_band_keys(signatures, bands, rows_per_band)
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # all (i < j) combinations of the sorted membership list
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    min_jaccard: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard pairs ≥ threshold:
    (id_a, id_b, shared, union_size, jaccard).

    With ``candidates`` (the LSH output) the restriction happens BEFORE the
    shingle join: candidate pairs are expanded with id_a's shingles, then
    matched against id_b's — only candidate docs' shingles are ever touched,
    never the full co-shingle pair space. (Semi-joining pairs *after* a
    global shingle⋈shingle join would still execute the n² join — the
    aggregation blocks semi-join pushdown.) Without ``candidates`` this is
    the exhaustive verify (n² worst case — small inputs only).

    Either way a pair must share ≥1 shingle to appear (inner joins), so the
    two paths produce identical rows for any ``min_jaccard`` > 0.
    """
    # sizes stay a full-corpus aggregation on purpose: it is one map-side
    # combinable pass over a frame the caller already has (persisted in the
    # query layer), whereas restricting it to candidate docs would reference
    # the lazy candidates plan two more times — and Catalyst re-executes the
    # whole LSH pipeline per reference (measured 7.1s vs 1.0s at sf0.1)
    sizes = shingles.groupBy("id").agg(F.count("*").alias("n_shingles"))
    if candidates is not None:
        shared = (
            candidates.join(
                shingles.select(F.col("id").alias("id_a"), "shingle"), "id_a"
            )
            .join(
                shingles.select(F.col("id").alias("id_b"), "shingle"),
                ["id_b", "shingle"],
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("shared"))
        )
    else:
        a = shingles.alias("a")
        b = shingles.alias("b")
        shared = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("shared"))
        )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    out = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared",
            (F.col("n_a") + F.col("n_b") - F.col("shared")).alias("union_size"),
            (
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 24


def simhash(df: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash): per-token md5-derived hash bits; each bit
    contributes ±1; the sign vector packs into a ``bits``-wide fingerprint.

    One md5 supplies 60 clean bits (15 hex chars); signatures wider than
    60 bits (e.g. the 64-bit production config — 4 pigeonhole bands of 16
    bits) draw bits 60+ from a SECOND md5 over ``tok || '#2'`` so every
    signature bit is a real hash bit. A zero-entropy top band would
    otherwise collapse into one global bucket and turn the banded join
    quadratic.

    Shape: explode tokens (narrow) → explode bit positions (narrow) →
    one groupBy(id, bit) + one groupBy(id). Everything stays integer —
    engine-portable.
    """
    if bits > 64:
        raise ValueError(
            "simhash packs into one 64-bit fingerprint; bits must be <= 64"
        )
    toks = tokens(F.col("text"))
    tok_hash = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    per_tok = (
        df.select(F.col("doc_id").alias("id"), toks.alias("toks"))
        .select("id", F.explode("toks").alias("tok"))
    )
    # r7: signatures ≤ 60 bits never read the second md5 word, but the old
    # projection materialized it per token anyway (the Generate boundary
    # forces the column; CollapseProject won't inline a non-cheap md5 into
    # the dead CASE branch) — HALF the md5 work for the 24/48-bit configs.
    # An r7 A/B also tried replacing the bit-explode + two aggs with one
    # 64-sum groupBy(id): fewer exchanges on paper, but the 65-wide
    # aggregation buffer measured consistently SLOWER at sf0.1 AND at 10×
    # (best-of-5 isolated: 2.15 s vs 1.24 s, 4.06 s vs 2.87 s) — the
    # narrow (id, bit) two-phase agg partial-aggregates map-side to
    # bits rows/id either way, and codegen handles one running sum far
    # better than 65 buffer slots. Kept the narrow shape; evidence in
    # OPTIMIZATION_r07.md.
    if bits > 60:
        tok_hash2 = F.conv(
            F.substring(F.md5(F.concat(F.col("tok"), F.lit("#2"))), 1, 15), 16, 10
        ).cast("long")
        per_tok = per_tok.select("id", tok_hash.alias("h"), tok_hash2.alias("h2"))
        hash_bit = (
            F.when(F.col("bit") < 60, F.expr("shiftright(h, bit)"))
            .otherwise(F.expr("shiftright(h2, bit - 60)"))
            .bitwiseAND(1)
        )
    else:
        per_tok = per_tok.select("id", tok_hash.alias("h"))
        # shiftright() only takes a literal bit count in the Python API;
        # the SQL form accepts a column
        hash_bit = F.expr("shiftright(h, bit)").bitwiseAND(1)
    exploded = per_tok.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        *per_tok.columns[1:],
    ).select(
        "id",
        "bit",
        F.when(hash_bit == 1, 1).otherwise(-1).alias("delta"),
    )
    bit_sums = exploded.groupBy("id", "bit").agg(F.sum("delta").alias("s"))
    return bit_sums.groupBy("id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(1L, bit)")).otherwise(0)
        ).alias("simhash")
    )


def duplicate_clusters(pairs: DataFrame, all_ids: DataFrame) -> DataFrame:
    """Near-dup pairs → connected components → canonical pick:
    (id, cluster_id, is_canonical) where cluster_id is the component's
    minimum id; singletons are their own canonical cluster.

    Iterative min-label propagation (the standard large-graph connected
    components on Spark): each round joins labels across edges and keeps
    the minimum; rounds needed = graph diameter (near-dup components are
    shallow). The per-round convergence check is one count — the
    documented exception to the no-driver-loops rule for iterative
    algorithms (GraphX-style Pregel does exactly this under the hood).

    Each round's labels are eagerly truncated (:func:`cache.truncate`):
    without the truncation the plan deepens by one join per round and
    round k replays rounds 1..k-1 (O(k²) total work, and eventually a
    planner blow-up); with it every round is O(edges) flat. On a real
    cluster set ``cache.RELIABLE_CHECKPOINT_CONF`` when executor loss
    mid-iteration must be recoverable.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    edges = truncate(edges, eager=True)
    labels = truncate(
        all_ids.select(F.col("id"), F.col("id").alias("cluster_id")), eager=True
    )
    for _ in range(20):  # diameter bound; near-dup clusters are shallow
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        updated = truncate(
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
            ),
            eager=True,
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "id")
            .filter(F.col("u.cluster_id") != F.col("l.cluster_id"))
            .count()
        )
        labels = updated
        if changed == 0:
            break
    return labels.select(
        "id",
        "cluster_id",
        F.when(F.col("id") == F.col("cluster_id"), 1).otherwise(0).alias("is_canonical"),
    )


def simhash_bands(bits: int, n_bands: int) -> list[tuple[int, int]]:
    """(offset, width) per pigeonhole band, widest bands first, covering
    ``bits`` contiguously. ``divmod`` split so widths differ by <= 1."""
    base, rem = divmod(bits, n_bands)
    out: list[tuple[int, int]] = []
    off = 0
    for i in range(n_bands):
        w = base + (1 if i < rem else 0)
        out.append((off, w))
        off += w
    return out


def simhash_near_pairs(
    sigs: DataFrame, max_hamming: int = 6, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance: (id_a, id_b, hamming).

    Banded candidate generation (the Hamming-space LSH pigeonhole): the
    ``bits``-wide signature splits into ``max_hamming + 1`` contiguous
    bit-bands; a pair within ``max_hamming`` differing bits has at least
    one band with ZERO differing bits (pigeonhole), so an equi-join on
    (band_idx, band_value) finds every true pair — recall is exactly 1,
    same rows as the all-pairs join, bit-for-bit. False candidates are
    killed by the exact ``bit_count(xor)`` verify after the join.

    Shape: explode each signature into n_bands (narrow, xN_bands rows),
    one shuffled equi-join keyed on (band, val), distinct on the pair,
    exact verify — no cartesian/nested-loop anywhere. Cost scales with
    Σ bucket², not n²; bucket selectivity is 2^band_width, so at
    production scale use a wider signature (e.g. 64-bit sig with
    max_hamming=3 → 4 bands of 16 bits → 65536-way buckets). With the
    default 24-bit/6-hamming config bands are 3-4 bits wide — fine for
    the verify-path corpus sizes it serves, and the plan shape (equi-join
    + verify) is already the 100 TB one.
    """
    n_bands = max_hamming + 1
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), off)
            .bitwiseAND(F.lit((1 << w) - 1))
            .alias("val"),
        )
        for i, (off, w) in enumerate(simhash_bands(bits, n_bands))
    ]
    banded = sigs.select(
        "id", "simhash", F.explode(F.array(*band_structs)).alias("b")
    ).select("id", "simhash", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    a = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("h_a"), "band", "val"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("h_b"), "band", "val"
    )
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def repeated_span_coverage(df: DataFrame, n: int = 5) -> DataFrame:
    """Per-document coverage by CROSS-document verbatim ``n``-gram spans →
    ``(id, n_tokens, n_positions, dup_positions, covered_tokens,
    coverage_bps)`` — the substring-dedup / memorization-risk signal
    (the "how much of this doc is verbatim elsewhere in the corpus"
    metric behind suffix-array training-data dedup): a position is
    duplicated when its n-gram also appears in at least one OTHER
    document; ``covered_tokens`` is the size of the union of all
    duplicated spans (overlaps merged), so boilerplate that repeats
    across the corpus is measured once per token, not once per n-gram.

    Shape: positions explode flatMap-style (narrow); the n-gram document
    count is one exchange keyed on the gram (at corpus scale hash grams
    to 64-bit first so the shuffle carries 8 B keys — kept as the raw
    string here for oracle parity); duplicated positions re-join the
    gram counts (both sides already partitioned by gram), and the span
    union is a per-document lag window — ``least(n, pos − prev_pos)``
    summed, one partition per doc, no global sort. Within-document
    repeats do NOT count (distinct-doc count ≥ 2), so self-repetitive
    text is ``text.ngram_repetition``'s job, not this one's.
    """
    base = df.select(
        F.col("doc_id").alias("id"), tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= n)
    gram = F.array_join(F.slice(F.col("toks"), F.col("pos") + 1, n), " ")
    pos = base.select(
        "id",
        F.size("toks").alias("n_tokens"),
        F.explode(F.sequence(F.lit(0), F.size("toks") - n)).alias("pos"),
        F.col("toks"),
    ).select("id", "n_tokens", "pos", gram.alias("gram"))
    gram_docs = (
        pos.select("id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
    )
    dup = pos.join(gram_docs, "gram").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    cov = dup.select(
        "id",
        F.when(F.lag("pos").over(w).isNull(), F.lit(n))
        .otherwise(F.least(F.lit(n), F.col("pos") - F.lag("pos").over(w)))
        .alias("c"),
    )
    per_doc = pos.groupBy("id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_positions"),
    )
    agg = cov.groupBy("id").agg(
        F.count(F.lit(1)).alias("dup_positions"),
        F.sum("c").alias("covered"),
    )
    return per_doc.join(agg, "id", "left").select(
        "id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_positions").cast("long").alias("n_positions"),
        F.coalesce("dup_positions", F.lit(0)).cast("long").alias("dup_positions"),
        F.coalesce("covered", F.lit(0)).cast("long").alias("covered_tokens"),
        F.expr(
            "CAST(coalesce(covered, 0) * 10000 DIV n_tokens AS BIGINT)"
        ).alias("coverage_bps"),
    )


def contamination_pairs(
    train_shingles: DataFrame,
    eval_shingles: DataFrame,
    min_shared: int = 3,
) -> DataFrame:
    """Benchmark decontamination: (train_id, eval_id, shared_shingles)
    for every training document sharing >= ``min_shared`` word n-grams
    with an eval/benchmark document — the standard n-gram-collision
    contamination check a pretraining pipeline runs before training
    (flagged train docs are dropped or quarantined).

    Inputs are ``word_shingles``-shaped frames (id, shingle), distinct
    per doc. The join is an inverted-index probe: the eval corpus is
    benchmark-sized (MBs even when the train side is 100 TB), so it is
    BROADCAST — the train side streams through map-side, no shuffle of
    train data at all; the only exchange is the pair aggregation, keyed
    on (train_id, eval_id) whose cardinality is bounded by collisions,
    not corpus size.
    """
    ev = eval_shingles.select(
        F.col("id").alias("eval_id"), F.col("shingle")
    )
    return (
        train_shingles.select(F.col("id").alias("train_id"), "shingle")
        .join(F.broadcast(ev), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_shared)
    )


def winnow_fingerprints(df: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003 — the MOSS algorithm): (id, pos, fp), the selected k-gram hashes.

    Char k-grams of the normalized text are hashed; every sliding window
    of ``w`` hashes contributes its minimum (leftmost on ties, recorded
    with its k-gram position); the distinct selected set is the
    fingerprint. Guarantees: any shared substring of length >= k + w - 1
    produces at least one shared fingerprint, so matching on fingerprints
    finds partial overlaps (plagiarism/quotation), which whole-document
    hashing (``fingerprint``) and set-Jaccard (``jaccard_pairs``) miss.

    Entirely row-local array expressions (transform/slice/array_min) —
    a ZERO-shuffle map-only projection before the final distinct. Hashes
    are md5-derived bigints, bit-reproducible in the DuckDB oracle.
    """
    base = df.select(
        F.col("doc_id").alias("id"), normalized_text(F.col("text")).alias("norm")
    ).filter(F.length("norm") >= k + w - 1)

    def gram_hash(sub: F.Column) -> F.Column:
        return F.conv(
            F.substring(F.md5(F.encode(sub, "utf-8")), 1, 15), 16, 10
        ).cast("long")

    hs = base.select(
        "id",
        F.transform(
            F.sequence(F.lit(0), F.length("norm") - k),
            lambda i: gram_hash(F.substring(F.col("norm"), i + 1, F.lit(k))),
        ).alias("hs"),
    )

    def window_pick(j: F.Column) -> F.Column:
        sl = F.slice(F.col("hs"), j + 1, w)
        m = F.array_min(sl)
        return F.struct(
            (j + F.array_position(sl, m) - 1).cast("int").alias("pos"),
            m.alias("fp"),
        )

    return (
        hs.select(
            "id",
            F.explode(
                F.transform(F.sequence(F.lit(0), F.size("hs") - w), window_pick)
            ).alias("s"),
        )
        .select("id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
        .distinct()
    )


def winnow_match_pairs(fps: DataFrame, min_shared: int = 2) -> DataFrame:
    """Overlap detection on winnowing fingerprints: (id_a, id_b,
    shared_fps) for pairs sharing >= ``min_shared`` selected hashes.
    The join key is the fingerprint hash (an inverted index, same scale
    shape as LSH bucket pairing); the pair agg's cardinality is bounded
    by real hash collisions, never the n² pair space.
    """
    a = fps.select(F.col("id").alias("id_a"), "fp")
    b = fps.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("fp").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def shingle_doc_frequency(shingles: DataFrame) -> DataFrame:
    """(shingle, doc_freq): how many documents contain each shingle — one
    map-side-combinable agg on the shingle key."""
    return shingles.groupBy("shingle").agg(F.count("*").alias("doc_freq"))


def cross_corpus_jaccard(
    new_shingles: DataFrame,
    old_shingles: DataFrame,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Incremental dedup: exact Jaccard of every NEW document against the
    EXISTING corpus — (new_id, old_id, shared, union_size, jaccard ≥ t).

    The 100 TB load pattern: an incremental batch dedups against the
    already-ingested corpus without re-pairing the corpus with itself
    (the corpus×corpus pair space never exists here). The inverted-index
    join hashes on the shingle; the increment side is load-batch-sized,
    so its shingles broadcast and the corpus never shuffles. Store
    ``word_shingles`` (or MinHash signatures) as a maintained table and
    each load pays only increment × collision cost.
    """
    n_sizes = new_shingles.groupBy("id").agg(F.count("*").alias("n_new"))
    o_sizes = old_shingles.groupBy("id").agg(F.count("*").alias("n_old"))
    shared = (
        new_shingles.select(F.col("id").alias("new_id"), "shingle")
        .join(
            old_shingles.select(F.col("id").alias("old_id"), "shingle"),
            "shingle",
        )
        .groupBy("new_id", "old_id")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(
            n_sizes.select(F.col("id").alias("new_id"), "n_new"), "new_id"
        )
        .join(o_sizes.select(F.col("id").alias("old_id"), "n_old"), "old_id")
        .select(
            "new_id",
            "old_id",
            "shared",
            (F.col("n_new") + F.col("n_old") - F.col("shared")).alias(
                "union_size"
            ),
            (
                F.col("shared").cast("double")
                / (F.col("n_new") + F.col("n_old") - F.col("shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def blocked_edit_distance_pairs(
    df: DataFrame,
    key: str,
    name: str,
    block: str,
    max_dist: int = 4,
) -> DataFrame:
    """Entity-resolution fuzzy matching: pairs of rows in the same
    ``block`` whose ``name`` strings are within Levenshtein distance
    ``max_dist`` — (id_1, id_2, dist), id_1 < id_2.

    Scale design: the classic blocking pattern. The candidate space is a
    hash **equi-join on the block key** (never an all-pairs cross join),
    so pair cost is Σ|block|² instead of N² — the block key is chosen as
    a semantic constraint (same brand / same zip / same length band), so
    blocking is part of the match definition, not a lossy approximation.
    The Levenshtein residual runs JVM-side with an early-exit threshold
    (``levenshtein(l, r, threshold)`` abandons a pair once the running
    distance exceeds the bound — O(d·min(m,n)) instead of O(m·n)).

    The probe side is round-robin repartitioned before the join: the
    input table is typically a handful of file partitions, but the
    output work is quadratic in block size — without the spread, one
    task evaluates the entire pair space (observed 7s → sub-second at
    sf0.1 on 32 cores). A 20k-row shuffle buys 32-way parallelism over
    millions of distance evaluations.
    """
    spread = df.sparkSession.sparkContext.defaultParallelism
    l = df.repartition(spread).select(
        F.col(key).alias("id_1"),
        F.col(name).alias("name_1"),
        F.col(block).alias("_block"),
    )
    r = df.select(
        F.col(key).alias("id_2"),
        F.col(name).alias("name_2"),
        F.col(block).alias("_block"),
    )
    bounded = F.levenshtein(F.col("name_1"), F.col("name_2"), max_dist)
    return (
        l.join(r, "_block")
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", bounded.alias("dist"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def prefix_filter_pairs(df: DataFrame, min_jaccard_pct: int = 40) -> DataFrame:
    """EXACT token-Jaccard similarity join via prefix filtering
    (Chaudhuri/Xiao et al., the PPJoin family) → (id_a, id_b, shared,
    union_size, jaccard) for all pairs with Jaccard ≥ min_jaccard_pct/100.

    Unlike MinHash-LSH (probabilistic candidate recall) the prefix filter
    is LOSSLESS: order each doc's distinct tokens by ascending global
    document frequency (rarest first), keep only the first
    ``n − ⌈t·n⌉ + 1`` as its *prefix*, and two docs can reach Jaccard ≥ t
    only if their prefixes share a token. The inverted-index join
    therefore runs over rare tokens only — the Zipf head that dominates
    a naive token⋈token join never enters the pair space.

    All-integer thresholds: prefix length uses ``⌈t·n⌉ =
    (t_pct·n + 99) DIV 100`` and the final filter is
    ``100·shared ≥ t_pct·union`` — no float ceiling/compare at the
    boundary, so the output is bit-identical to an exhaustive
    verification in any engine. Shapes: token df is one map-combinable
    agg; per-doc ordering is a keyed window on id; candidates and
    verification hash on token / id keys throughout.
    """
    t = int(min_jaccard_pct)
    tok = (
        df.select(
            F.col("doc_id").alias("id"),
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("token"),
        )
        .where(F.col("token") != "")
        .persist()
    )
    tdf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "token")
    ranked = (
        tok.join(tdf, "token")
        .select(
            "id",
            "token",
            F.row_number().over(w).alias("pos"),
            F.count(F.lit(1)).over(Window.partitionBy("id")).alias("n"),
        )
    )
    prefix = ranked.where(
        F.col("pos") <= F.col("n") - F.expr(f"({t} * n + 99) DIV 100") + F.lit(1)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # tok stays persisted for the session (same discipline as the LSH
    # pipeline's shingle/candidate frames): the verify path references it
    # three times, and an eager checkpoint here would hide the plan from
    # callers and force materialization at build time
    return jaccard_pairs(
        tok.withColumnRenamed("token", "shingle"),
        min_jaccard=0.0,
        candidates=cands,
    ).where(F.lit(100) * F.col("shared") >= F.lit(t) * F.col("union_size"))
