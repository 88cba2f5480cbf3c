"""Property-based cross-engine tests (hypothesis): the Spark scalar helpers
must match DuckDB/Postgres semantics on arbitrary inputs, not just the
fixtures — SURVEY §5's 'tricky scalar semantics' requirement."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ufc_data_warehouse_spark import exprs

# printable-ish strings incl. delimiters, empties, unicode
TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
    max_size=30,
)


def _schema():
    return StructType([StructField("s", StringType())])


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(TEXT, min_size=1, max_size=40))
def test_split_part_matches_duckdb(spark, values):
    for delim in ["/", " vs. "]:
        for n in (1, 2, 3):
            rows = [(v,) for v in values]
            got = [
                r["v"]
                for r in spark.createDataFrame(rows, _schema())
                .select(exprs.split_part(F.col("s"), delim, n).alias("v"))
                .collect()
            ]
            con = duckdb.connect()
            expected = [
                con.execute(
                    "SELECT split_part(?, ?, ?)", [v, delim, n]
                ).fetchone()[0]
                for v in values
            ]
            con.close()
            assert got == expected, (delim, n, values)


DATEISH = st.one_of(
    TEXT,
    st.from_regex(r"[A-Z][a-z]{2,8} [0-9]{1,2}, [0-9]{4}", fullmatch=True),
    st.from_regex(r"[A-Z][a-z]{2,8} [0-9]{4}", fullmatch=True),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(DATEISH, min_size=1, max_size=40))
def test_date_cascade_matches_duckdb(spark, values):
    rows = [(v,) for v in values]
    got = [
        r["v"]
        for r in spark.createDataFrame(rows, _schema())
        .select(exprs.to_date_cascade(F.col("s")).alias("v"))
        .collect()
    ]
    con = duckdb.connect()
    expected = []
    for v in values:
        sql = """SELECT CASE
          WHEN regexp_matches($s, '^[A-Za-z]{3}\\s+[0-9]{1,2},\\s+[0-9]{4}$')
            THEN try_strptime($s, '%b %d, %Y')::DATE
          WHEN regexp_matches($s, '^[A-Za-z]+\\s+[0-9]{1,2},\\s+[0-9]{4}$')
            THEN try_strptime($s, '%B %d, %Y')::DATE
          WHEN regexp_matches($s, '^[A-Za-z]{3}\\s+[0-9]{4}$')
            THEN try_strptime($s, '%b %Y')::DATE
          WHEN regexp_matches($s, '^[A-Za-z]+\\s+[0-9]{4}$')
            THEN try_strptime($s, '%B %Y')::DATE
          END"""
        expected.append(con.execute(sql, {"s": v}).fetchone()[0])
    con.close()
    assert got == expected, values


def test_interpolation_invariants_property(spark):
    """interpolate_linear invariants over randomized per-key series:
    observed days keep their exact value; filled days lie within the
    [prev, next] value envelope; the spine is dense (no missing days)."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ufc_data_warehouse_spark.operators.timeseries import interpolate_linear

    series = st.lists(
        st.tuples(st.integers(0, 40), st.integers(-1000, 1000)),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(series)
    def check(pts):
        base = dt.datetime(2024, 3, 1)
        rows = [
            (1, base + dt.timedelta(days=d), float(v)) for d, v in pts
        ]
        df = spark.createDataFrame(rows, "k long, ts timestamp, value double")
        out = interpolate_linear(df, "k", "ts", "value").collect()
        by_day = {r["day"]: r for r in out}
        days = sorted(by_day)
        # dense spine
        assert (days[-1] - days[0]).days + 1 == len(days)
        vals = {d: float(v) for d, v in pts}
        lo, hi = min(vals.values()), max(vals.values())
        for r in out:
            offset = (r["day"] - days[0]).days + min(d for d, _ in pts)
            if r["is_observed"]:
                assert r["value_interp"] == vals[offset]
            else:
                assert lo - 1e-9 <= r["value_interp"] <= hi + 1e-9

    check()


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    )
)
def test_triangle_count_matches_bruteforce(spark, edge_list):
    """Degree-ordered wedge counting == O(n³) brute force on arbitrary
    small graphs (dups, self-loops, reversed edges included)."""
    from itertools import combinations

    from ufc_data_warehouse_spark.operators import graph

    adj: set[tuple[int, int]] = set()
    for a, b in edge_list:
        if a != b:
            adj.add((min(a, b), max(a, b)))
    nodes = sorted({x for e in adj for x in e})
    expected = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in adj and (b, c) in adj and (a, c) in adj
    )
    df = spark.createDataFrame(edge_list or [(0, 0)], "src long, dst long")
    rows = graph.triangle_count(df).collect()
    if not adj:
        assert rows == [] or rows[0]["n_edges"] == 0
        return
    got = rows[0]
    assert (got["n_nodes"], got["n_edges"], got["n_triangles"]) == (
        len(nodes),
        len(adj),
        expected,
    )


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=25,
    )
)
def test_pagerank_matches_integer_replay(spark, edge_list):
    """Fixed-point PageRank == a pure-Python replay of its integer update
    rule on arbitrary small digraphs (self-loops kept, duplicate edges
    counted once, dangling mass dropped). Six iterations cross the
    mid-loop lineage truncation after the fifth."""
    from ufc_data_warehouse_spark.operators import graph

    scale, damping, iterations = 10**12, 85, 6
    out: dict[int, set[int]] = {}
    for a, b in edge_list:
        out.setdefault(a, set()).add(b)
    nodes = {x for e in edge_list for x in e}
    rank = dict.fromkeys(nodes, scale)
    for _ in range(iterations):
        mass = dict.fromkeys(nodes, 0)
        for a, dsts in out.items():
            for b in dsts:
                mass[b] += rank[a] // len(dsts)
        rank = {
            n: (100 - damping) * scale // 100 + damping * mass[n] // 100
            for n in nodes
        }
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in graph.pagerank(df, iterations=iterations).collect()
    }
    assert got == rank


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    ),
    st.integers(0, 3),
)
def test_bfs_hops_matches_bruteforce(spark, edge_list, seed):
    """Frontier BFS == brute-force shortest hop distance on arbitrary
    small graphs (dups, self-loops, disconnected parts included)."""
    from ufc_data_warehouse_spark.operators import graph

    adj: dict[int, set[int]] = {}
    for a, b in edge_list:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    rounds = 3
    dist = {seed: 0}
    frontier = {seed}
    for i in range(1, rounds + 1):
        frontier = {
            n for f in frontier for n in adj.get(f, ()) if n not in dist
        }
        for n in frontier:
            dist[n] = i
    df = spark.createDataFrame(edge_list or [(0, 0)], "src long, dst long")
    seeds = spark.createDataFrame([(seed,)], "node long")
    got = {
        (r["node"], r["hops"])
        for r in graph.bfs_hops(df, seeds, rounds=rounds).collect()
    }
    assert got == set(dist.items())


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)),
        min_size=1,
        max_size=30,
    )
)
def test_skyline_matches_bruteforce(spark, pts):
    """Window skyline == the NOT EXISTS dominance definition on
    arbitrary small point sets (duplicates included)."""
    from ufc_data_warehouse_spark.operators import patterns

    uniq = set(pts)
    expected = {
        (x, y)
        for (x, y) in uniq
        if not any(
            bx <= x and by <= y and (bx < x or by < y) for (bx, by) in uniq
        )
    }
    df = spark.createDataFrame(list(pts), "x long, y long")
    got = {
        (r["x"], r["y"])
        for r in patterns.skyline_2d(df, "x", "y").collect()
    }
    assert got == expected


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.integers(0, 5_000_000), min_size=1, max_size=25),
    st.lists(
        st.tuples(st.integers(0, 4_500_000), st.integers(1, 2_500_000)),
        min_size=1,
        max_size=15,
    ),
)
def test_interval_overlap_join_matches_bruteforce(spark, points, spans):
    """Bucket-grid containment join == brute-force [start, end) test on
    arbitrary small inputs, including bucket-boundary values — each true
    (point, interval) pair must appear EXACTLY once."""
    from collections import Counter

    from ufc_data_warehouse_spark.operators import patterns

    pdf = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)], "point_id long, p_us long"
    )
    idf = spark.createDataFrame(
        [(j, s, s + ln) for j, (s, ln) in enumerate(spans)],
        "iv_id long, start_us long, end_us long",
    )
    out = patterns.interval_overlap_join(
        pdf, idf, point_ts_us="p_us", start_us="start_us",
        end_us="end_us", bucket_s=1,  # 1s buckets; µs values span several
    )
    got = Counter(
        (r["point_id"], r["iv_id"]) for r in out.collect()
    )
    expected = Counter(
        (i, j)
        for i, p in enumerate(points)
        for j, (s, ln) in enumerate(spans)
        if s <= p < s + ln
    )
    assert got == expected


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10), st.integers(1, 9)),
        min_size=1,
        max_size=30,
    ),
    st.integers(0, 3),
    st.integers(1, 3),
)
def test_sssp_bounded_matches_bruteforce(spark, edge_list, seed, rounds):
    """Bellman-Ford sssp_bounded == brute-force ≤rounds-edge shortest
    path on arbitrary small weighted digraphs (parallel edges,
    self-loops, unreachable parts included)."""
    from ufc_data_warehouse_spark.operators import graph

    best: dict[int, int] = {seed: 0}
    for _ in range(rounds):
        nxt = dict(best)
        for a, b, w in edge_list:
            if a != b and a in best:
                cand = best[a] + w
                if cand < nxt.get(b, 1 << 60):
                    nxt[b] = cand
        best = nxt
    df = spark.createDataFrame(
        edge_list or [(0, 0, 1)], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(seed,)], "node long")
    got = {
        (r["node"], r["dist"])
        for r in graph.sssp_bounded(df, seeds, rounds=rounds).collect()
    }
    assert got == set(best.items())


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.integers(-1000, 1000), min_size=1, max_size=60),
    st.integers(1, 10),
)
def test_global_prefix_sum_matches_running_total(spark, values, n_buckets):
    """Two-phase bucketed prefix sum == a plain running total for any
    values (negatives included) and any bucket count (incl. more buckets
    than rows)."""
    from ufc_data_warehouse_spark.operators.scale import global_prefix_sum

    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        (r["k"], r["cum"])
        for r in global_prefix_sum(df, "v", "k", n_buckets=n_buckets).collect()
    }
    run, want = 0, set()
    for i, v in enumerate(values):
        run += v
        want.add((i, run))
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # partition key (few groups, heavy ties)
            st.integers(-50, 50),  # sort key (ties likely)
            st.integers(-100, 100),  # summed value
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 8),
    st.booleans(),
)
def test_global_order_rank_partitioned_property(spark, rows, n_buckets, eq):
    """Partitioned two-phase rank/prefix-sum/total == a pure-Python
    per-key running reference for ANY keyed frame, bucket count, and
    bucket mode — row ids are the tiebreak so every rank is total."""
    from ufc_data_warehouse_spark.operators.scale import global_order_rank

    data = [(i, k, v, w) for i, (k, v, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, k long, v long, w long")
    got = {
        (r["id"], r["rn"], r["cum"], r["n_total"])
        for r in global_order_rank(
            df,
            "v",
            ["id"],
            n_buckets=n_buckets,
            value_col="w",
            equi_depth=eq,
            partition_cols=["k"],
        ).collect()
    }
    want = set()
    for key in {k for _, k, _, _ in data}:
        grp = sorted(
            (v, i, w) for i, k, v, w in data if k == key
        )
        run = 0
        for rn, (v, i, w) in enumerate(grp, start=1):
            run += w
            want.add((i, rn, run, len(grp)))
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 2)),  # key incl. NULL group
            st.one_of(st.none(), st.integers(-80, 80)),  # value incl. NULL
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 8),
)
def test_global_prefix_max_partitioned_property(spark, rows, n_buckets):
    """Partitioned two-phase prefix max == a pure-Python per-key running
    max, for any key distribution (NULL keys form ONE group, like
    Window.partitionBy) and any bucket count. NULL values never poison
    the running max (the window's max skips NULLs; an all-NULL-so-far
    prefix is NULL) — the event_disorder_audit shape, property-tested
    the way the partitioned rank is."""
    from ufc_data_warehouse_spark.operators.scale import global_prefix_max

    data = [(i, k, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, k long, v long")
    got = {
        (r["id"], r["runmax"])
        for r in global_prefix_max(
            df,
            value_col="v",
            order_col="id",
            n_buckets=n_buckets,
            partition_cols=["k"],
        ).collect()
    }
    want = set()
    for key in {k for _, k, _ in data}:
        run = None
        for i, k, v in sorted(r for r in data if r[1] == key):
            if v is not None:
                run = v if run is None else max(run, v)
            want.add((i, run))
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.integers(0, 6), min_size=1, max_size=40),
    st.lists(st.tuples(st.integers(0, 6), st.integers(0, 100)), max_size=10),
)
def test_salted_replicate_join_matches_plain(spark, fact_keys, dim_rows):
    """Salted join == plain join as multisets, for arbitrary fact-key
    multiplicity, duplicate dim keys, and unmatched keys on both sides."""
    from collections import Counter

    from ufc_data_warehouse_spark.operators.scale import salted_replicate_join

    fact = spark.createDataFrame(
        [(k, i) for i, k in enumerate(fact_keys)], "k long, fid long"
    )
    dim = spark.createDataFrame(dim_rows or [(99, 0)], "k long, attr long")
    for how in ("inner", "left"):
        got = Counter(
            (r["k"], r["fid"], r["attr"])
            for r in salted_replicate_join(fact, dim, "k", n_salts=3, how=how).collect()
        )
        want = Counter(
            (r["k"], r["fid"], r["attr"])
            for r in fact.join(dim, "k", how).collect()
        )
        assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-50, 50)),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 4),
    st.integers(1, 5),
)
def test_two_phase_topk_matches_window_rank(spark, rows, k, salts):
    """Salted two-phase top-k == window row_number top-k for arbitrary
    groups, duplicate values (tie on id), and k larger than group size."""
    from ufc_data_warehouse_spark.operators.scale import two_phase_topk

    df = spark.createDataFrame(
        [(g, i, v) for i, (g, v) in enumerate(rows)],
        "g long, id long, v long",
    )
    got = {
        (r["g"], r["id"], r["v"], r["rk"])
        for r in two_phase_topk(
            df, ["g"], "v", "id", k=k, salt_buckets=salts
        ).collect()
    }
    want = set()
    by_g: dict[int, list[tuple[int, int]]] = {}
    for i, (g, v) in enumerate(rows):
        by_g.setdefault(g, []).append((-v, i))
    for g, items in by_g.items():
        for pos, (nv, i) in enumerate(sorted(items)[:k]):
            want.add((g, i, -nv, pos + 1))
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.integers(-(10**9), 10**9), min_size=1, max_size=80),
    st.integers(2, 8),
    st.integers(1, 3),
)
def test_distributed_kth_smallest_matches_sort(spark, values, buckets, rounds):
    """Bucket-narrowing selection == sorted()[k-1] for arbitrary values
    (heavy duplicates, negatives, huge ranges), bucket counts, and
    narrowing depths."""
    from ufc_data_warehouse_spark.operators.scale import (
        distributed_kth_smallest,
    )

    df = spark.createDataFrame([(v,) for v in values], "x long")
    row = distributed_kth_smallest(
        df, "x", n_buckets=buckets, rounds=rounds
    ).collect()[0]
    k = (len(values) + 1) // 2
    assert row["n"] == len(values)
    assert row["k"] == k
    assert row["kth_value"] == sorted(values)[k - 1]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10)),
        min_size=1,
        max_size=25,
    ),
    st.integers(1, 3),
)
def test_label_propagation_matches_bruteforce(spark, edge_list, rounds):
    """Synchronous min-tie LPA == a literal Python replay of the same
    rounds on arbitrary small graphs (dups, self-loops, reversed edges)."""
    from collections import Counter

    from ufc_data_warehouse_spark.operators import graph

    und: set[tuple[int, int]] = set()
    for a, b in edge_list:
        if a != b:
            und.add((a, b))
            und.add((b, a))
    if not und:
        return
    nodes = sorted({x for e in und for x in e})
    labels = {n: n for n in nodes}
    for _ in range(rounds):
        new = {}
        for n in nodes:
            counts = Counter(labels[m] for (s, m) in und if s == n)
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        labels = new
    df = spark.createDataFrame(sorted(edge_list), "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in graph.label_propagation(df, rounds=rounds).collect()
    }
    assert got == labels


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.floats(-1, 1, allow_nan=False, width=32), min_size=8, max_size=8
        ),
        min_size=3,
        max_size=12,
        unique_by=lambda v: tuple(v),
    )
)
def test_kcenter_coreset_matches_greedy(spark, vecs):
    """Distributed Gonzalez k-center == driver-side greedy replay on the
    same int8 codes (exact integer distances ⇒ identical selection)."""
    from ufc_data_warehouse_spark.operators import simsearch

    k = min(3, len(vecs))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = [
        (r["rank"], r["vec_id"], r["d2"])
        for r in simsearch.kcenter_coreset(df, k=k).orderBy("rank").collect()
    ]

    # replay: same quantization, same maximin greedy
    flat = [x for v in vecs for x in v]
    # match Spark float32 semantics: values already float32-representable
    qmin, qmax = min(flat), max(flat)
    scale = qmax - qmin

    def code(x: float) -> int:
        import math

        return max(0, min(255, math.floor((x - qmin) / scale * 255.0)))

    codes = {i: [code(x) for x in v] for i, v in enumerate(vecs)}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(codes[a], codes[b]))

    chosen = [(1, 0, 0)]
    mind = {i: d2(i, 0) for i in codes}
    for rank in range(2, k + 1):
        nxt = max(mind, key=lambda i: (mind[i], -i))
        chosen.append((rank, nxt, mind[nxt]))
        for i in codes:
            mind[i] = min(mind[i], d2(i, nxt))
    assert got == chosen


def test_ks_statistic_bounds(spark):
    """0 ≤ D_scaled ≤ n_a·n_b and d_bps ≤ 10000 on the fixture data."""
    from ufc_data_warehouse_spark.pipeline_queries import q_ks_two_sample_drift

    from tests.conftest import SF_DIR

    row = q_ks_two_sample_drift(spark, SF_DIR).collect()[0]
    assert 0 <= row["d_scaled"] <= row["n_a"] * row["n_b"]
    assert 0 <= row["d_bps"] <= 10000


def test_scene_cuts_bounded_by_frames(spark):
    """Per video: 0 ≤ n_cuts < n_frames (a cut needs a predecessor)."""
    from ufc_data_warehouse_spark.pipeline_queries import q_multimodal_scene_cuts

    from tests.conftest import SF_DIR

    for r in q_multimodal_scene_cuts(spark, SF_DIR).collect():
        assert 0 <= r["n_cuts"] < r["n_frames"]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.integers(0, 50), min_size=1, max_size=40),
    st.lists(st.integers(0, 50), min_size=1, max_size=40),
)
def test_ks_cross_multiplied_matches_bruteforce(spark, xs, ys):
    """The integer cross-multiplied KS distance == the literal
    max|F_a − F_b| over the pooled value grid, computed in Python."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(v, 1) for v in xs] + [(v, 0) for v in ys]
    ev = spark.createDataFrame(rows, "v long, is_a int")
    per_v = ev.groupBy("v").agg(
        F.sum("is_a").alias("ca"), F.sum(1 - F.col("is_a")).alias("cb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        F.sum("ca").over(w).alias("cum_a"), F.sum("cb").over(w).alias("cum_b")
    )
    got = cum.agg(
        F.max(
            F.abs(F.col("cum_a") * len(ys) - F.col("cum_b") * len(xs))
        ).alias("d")
    ).collect()[0]["d"]

    grid = sorted(set(xs) | set(ys))
    expected = max(
        abs(
            sum(1 for x in xs if x <= v) * len(ys)
            - sum(1 for y in ys if y <= v) * len(xs)
        )
        for v in grid
    )
    assert got == expected


def test_maxsim_arrow_matches_hof_scorer(spark):
    """The Arrow einsum MaxSim path must be bit-identical to the JVM HOF
    scorer on the fixture corpus (same quantization, same integer dots)."""
    from ufc_data_warehouse_spark.pipeline_queries import (
        q_ann_maxsim_arrow,
        q_ann_maxsim_multivector,
    )

    from tests.conftest import SF_DIR

    a = sorted(
        tuple(r) for r in q_ann_maxsim_arrow(spark, SF_DIR).collect()
    )
    b = sorted(
        tuple(r) for r in q_ann_maxsim_multivector(spark, SF_DIR).collect()
    )
    assert a == b


def test_span_corruption_budgets_are_consistent(spark):
    """Masked tokens never exceed total tokens; sentinel count bounds
    masked tokens by span length on both sides."""
    from ufc_data_warehouse_spark.pipeline_queries import (
        _SPAN_LEN,
        q_span_corruption_plan,
    )

    from tests.conftest import SF_DIR

    for r in q_span_corruption_plan(spark, SF_DIR).collect():
        assert 0 <= r["sum_masked"] <= r["sum_tokens"]
        assert r["sum_masked"] <= r["sum_sentinels"] * _SPAN_LEN
        assert r["sum_sentinels"] <= r["sum_masked"]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 100)),
        min_size=1,
        max_size=40,
    )
)
def test_grouped_quartiles_match_rank_definition(spark, rows):
    """The windowed quartile picks == a literal Python replay of the
    rank definition (value at row ceil(q*n) of the sorted group)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(g, i, v) for i, (g, v) in enumerate(rows)],
        "event_type string, event_id long, cents long",
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = df.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    got = {
        r["event_type"]: (r["p25"], r["p50"], r["p75"])
        for r in ranked.groupBy("event_type")
        .agg(
            F.min(F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("cents"))).alias("p25"),
            F.min(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("cents"))).alias("p50"),
            F.min(F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("cents"))).alias("p75"),
        )
        .collect()
    }

    by_group: dict[str, list[int]] = {}
    for i, (g, v) in enumerate(rows):
        by_group.setdefault(g, []).append((v, i))
    for g, vals in by_group.items():
        s = [v for v, _ in sorted(vals)]
        n = len(s)
        expected = (
            s[(n + 3) // 4 - 1],
            s[(n + 1) // 2 - 1],
            s[(3 * n + 3) // 4 - 1],
        )
        assert got[g] == expected, (g, got[g], expected)


def test_t_closeness_bounds(spark):
    """0 ≤ t ≤ 10000 bps and the over-threshold count ≤ class count."""
    from ufc_data_warehouse_spark.pipeline_queries import q_t_closeness_audit

    from tests.conftest import SF_DIR

    r = q_t_closeness_audit(spark, SF_DIR).collect()[0]
    assert 0 <= r["max_t_bps"] <= 10000
    assert 0 <= r["n_classes_over_t"] <= r["n_classes"]


def test_partitioning_invariance_of_tie_sensitive_queries(spark):
    """Tie-sensitive top-k/ntile queries must return identical rows under
    different shuffle-partition counts — the invariant that makes local
    results transfer to a 1000-executor cluster. shuffle.partitions is a
    runtime conf, so one session can check both settings."""
    from ufc_data_warehouse_spark.registry import queries

    from tests.conftest import SF_DIR

    names = [
        "ann_maxsim_multivector",
        "coreset_kcenter_selection",
        "bigram_successor_topk",
        "grouped_quartiles",
        # samplers: the classic partitioning-dependence bug surface
        "weighted_priority_sample",
        "pps_systematic_sample",
        "stratified_fixed_n_sample",
        "contrastive_negative_sampling",
        # round-2 additions with rank/tie or banding surfaces
        "ann_pq_adc_topk",
        "ann_ivfpq_topk",
        "dedup_simhash48_pairs",
        "dedup_incremental_batch",
    ]
    original = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in ("7", "29"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in names:
                rows = sorted(
                    tuple(r) for r in queries()[n].fn(spark, SF_DIR).collect()
                )
                results.setdefault(n, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
    for n, (a, b) in results.items():
        assert a == b, f"{n} differs across shuffle-partition settings"


def test_modularity_bounded_above_by_one(spark):
    """Q ≤ 1 by construction (q_num ≤ q_den); the denominator is D²."""
    from ufc_data_warehouse_spark.pipeline_queries import (
        q_graph_modularity_score,
    )

    from tests.conftest import SF_DIR

    r = q_graph_modularity_score(spark, SF_DIR).collect()[0]
    assert r["q_num"] <= r["q_den"]
    assert r["q_bps"] <= 10000


def test_time_decay_weights_are_halving_powers(spark):
    """Every credited weight must be 128 >> weeks ∈ {1,2,4,...,128} —
    checked by recomputing the weight column bound inside the rollup:
    weighted_credit must be expressible as Σ wt·cents with wt a power of
    two ≤ 128, so total credit ≤ 128·Σcents of attributed purchases."""
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.pipeline_queries import (
        q_time_decay_attribution,
    )

    from tests.conftest import SF_DIR

    rows = q_time_decay_attribution(spark, SF_DIR).collect()
    for r in rows:
        if r["channel"] == "unattributed":
            assert r["weighted_credit"] == 0
        else:
            assert 0 <= r["weighted_credit"]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=8),
        min_size=2,
        max_size=12,
    ),
    st.sampled_from([30, 40, 60]),
)
def test_prefix_filter_matches_exhaustive_jaccard(spark, docs, t_pct):
    """The lossless claim, property-tested: prefix-filtered pairs ==
    exhaustive token-Jaccard pairs on random token multisets at several
    thresholds (duplicate tokens, shared-everywhere tokens included)."""
    from ufc_data_warehouse_spark.operators import dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["id_a"], r["id_b"], r["shared"], r["union_size"])
        for r in dedup.prefix_filter_pairs(
            df, min_jaccard_pct=t_pct
        ).collect()
    )

    sets = {i: set(toks) for i, toks in enumerate(docs)}
    expected = []
    for a in sets:
        for b in sets:
            if a < b:
                shared = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if shared and 100 * shared >= t_pct * union:
                    expected.append((a, b, shared, union))
    assert got == sorted(expected)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10)),
        min_size=1,
        max_size=25,
    ),
    st.integers(1, 4),
)
def test_kcore_matches_bruteforce_peel(spark, edge_list, k):
    """Fixed-round k-core peeling == a literal Python peel on arbitrary
    small graphs (3 rounds both sides)."""
    from ufc_data_warehouse_spark.operators import graph

    und: set[tuple[int, int]] = set()
    for a, b in edge_list:
        if a != b:
            und.add((a, b))
            und.add((b, a))
    if not und:
        return
    alive = set(und)
    for _ in range(3):
        deg: dict[int, int] = {}
        for a, _b in alive:
            deg[a] = deg.get(a, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        alive = {(a, b) for (a, b) in alive if a in keep and b in keep}
    deg = {}
    for a, _b in alive:
        deg[a] = deg.get(a, 0) + 1
    expected = sorted(deg.items())

    df = spark.createDataFrame(sorted(edge_list), "src long, dst long")
    got = sorted(
        (r["node"], r["core_degree"])
        for r in graph.kcore_nodes(df, k=k, rounds=3).collect()
    )
    assert got == expected


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        min_size=1,
        max_size=20,
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        min_size=1,
        max_size=20,
    ),
)
def test_union_merge_asof_matches_bruteforce(spark, events, orders):
    """The single-shuffle union-merge as-of carry == brute-force 'latest
    order at or before event time' on random keyed sequences (ties on
    time resolved to the highest order id, same as the production
    query)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev_rows = [(i, u, t) for i, (u, t) in enumerate(events)]
    o_rows = [(j, u, t) for j, (u, t) in enumerate(orders)]
    ev = spark.createDataFrame(ev_rows, "event_id long, user_id long, ts long")
    od = spark.createDataFrame(o_rows, "o_id long, user_id long, t long")

    o_side = od.select(
        "user_id", F.col("t").alias("tt"), F.lit(1).alias("is_order"),
        F.col("o_id"), F.lit(None).cast("long").alias("event_id"),
    )
    e_side = ev.select(
        "user_id", F.col("ts").alias("tt"), F.lit(0).alias("is_order"),
        F.lit(None).cast("long").alias("o_id"), "event_id",
    )
    merged = o_side.unionByName(e_side)
    w = (
        Window.partitionBy("user_id")
        # orders before events at the same tt ('at or before' semantics);
        # ties between orders at one tt → highest o_id wins
        .orderBy(F.asc("tt"), F.desc("is_order"), F.asc("o_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.withColumn(
        "last_o", F.last(F.when(F.col("is_order") == 1, F.col("o_id")),
                         ignorenulls=True).over(w)
    ).filter(F.col("is_order") == 0)
    got = {r["event_id"]: r["last_o"] for r in carried.collect()}

    for i, (u, t) in enumerate(events):
        cands = [(tt, j) for j, (uu, tt) in enumerate(orders)
                 if uu == u and tt <= t]
        expected = max(cands)[1] if cands else None
        assert got[i] == expected, (i, got[i], expected)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 30)),
             min_size=1, max_size=15),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 30)),
             min_size=1, max_size=15),
    st.integers(1, 10),
)
def test_asof_tolerance_matches_bruteforce(spark, events, orders, tol):
    """Tolerance-bounded as-of == brute force: the latest order at or
    before each event counts only when its age ≤ tol; older matches are
    rejected, absent matches are unmatched."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(events)],
        "event_id long, user_id long, t long",
    )
    od = spark.createDataFrame(
        [(j, u, t) for j, (u, t) in enumerate(orders)],
        "o_id long, user_id long, t long",
    )
    merged = od.select(
        "user_id", "t", F.lit(1).alias("is_order"), "o_id",
        F.lit(None).cast("long").alias("event_id"),
    ).unionByName(ev.select(
        "user_id", "t", F.lit(0).alias("is_order"),
        F.lit(None).cast("long").alias("o_id"), "event_id",
    ))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("t"), F.desc("is_order"), F.asc("o_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.withColumn(
        "o_t", F.last(F.when(F.col("is_order") == 1, F.col("t")),
                      ignorenulls=True).over(w)
    ).filter(F.col("is_order") == 0)
    bucket = (
        F.when(F.col("o_t").isNull(), "none")
        .when(F.col("t") - F.col("o_t") <= tol, "matched")
        .otherwise("stale")
    )
    got = {r["event_id"]: r["b"]
           for r in carried.select("event_id", bucket.alias("b")).collect()}

    for i, (u, t) in enumerate(events):
        cands = [tt for (uu, tt) in orders if uu == u and tt <= t]
        if not cands:
            expected = "none"
        elif t - max(cands) <= tol:
            expected = "matched"
        else:
            expected = "stale"
        assert got[i] == expected, (i, got[i], expected)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="abcd ", min_size=11, max_size=60),
        min_size=1,
        max_size=6,
    )
)
def test_winnowing_window_coverage_guarantee(spark, texts):
    """The SIGMOD-2003 winnowing guarantee, property-tested: every
    window of w consecutive k-gram positions contains at least one
    selected fingerprint position (k=8, w=4 — the production defaults),
    and the shared-substring guarantee follows from it."""
    from ufc_data_warehouse_spark.operators import dedup

    k, w = 8, 4
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.winnow_fingerprints(df, k=k, w=w)
    by_doc: dict[int, set[int]] = {}
    for r in fps.collect():
        by_doc.setdefault(r["id"], set()).add(r["pos"])

    import re

    for i, t in enumerate(texts):
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        n_grams = len(norm) - k + 1
        if n_grams < w:
            continue
        positions = by_doc.get(i, set())
        for start in range(n_grams - w + 1):
            window = set(range(start, start + w))
            assert window & positions, (
                f"doc {i}: window at {start} has no fingerprint"
            )


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(1, 20)),
        min_size=1,
        max_size=20,
    )
)
def test_interval_union_matches_bruteforce(spark, intervals):
    """Gaps-and-islands interval union == brute-force union length on
    random [s, s+len) intervals per key (overlaps, duplicates, and
    closed-open adjacency merges included)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(i, u, s, s + ln) for i, (u, s, ln) in enumerate(intervals)]
    df = spark.createDataFrame(rows, "rid long, user_id long, s long, e long")
    w = Window.partitionBy("user_id").orderBy("s", "rid")
    flagged = df.withColumn(
        "pmax", F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    ).withColumn(
        "ni",
        F.when(F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1)
        .otherwise(0),
    )
    islands = flagged.withColumn(
        "isle",
        F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    got = {
        r["user_id"]: (r["n_islands"], r["covered"])
        for r in islands.groupBy("user_id", "isle")
        .agg(F.min("s").alias("a"), F.max("e").alias("b"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.col("b") - F.col("a")).alias("covered"),
        )
        .collect()
    }

    by_user: dict[int, list[tuple[int, int]]] = {}
    for u, s, ln in intervals:
        by_user.setdefault(u, []).append((s, s + ln))
    for u, ivs in by_user.items():
        ivs.sort()
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        expected = (len(merged), sum(e - s for s, e in merged))
        assert got[u] == expected, (u, got[u], expected)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 10_000)),
        min_size=1,
        max_size=25,
    ),
    st.integers(60, 1800),
)
def test_sessionization_matches_bruteforce(spark, events, gap_s):
    """Gaps-and-islands sessionization == a literal Python session walk
    on random (user, epoch-second) events at several gap thresholds
    (duplicate timestamps included — event id breaks the tie)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(i, u, t) for i, (u, t) in enumerate(events)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, s long")
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    sess = (
        df.withColumn("prev", F.lag("s").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull() | (F.col("s") - F.col("prev") > gap_s),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    got = {
        r["user_id"]: r["n"]
        for r in sess.groupBy("user_id")
        .agg(F.countDistinct("sid").alias("n"))
        .collect()
    }

    by_user: dict[int, list[int]] = {}
    for u, t in events:
        by_user.setdefault(u, []).append(t)
    for u, ts in by_user.items():
        ts.sort()
        n = 1
        for a, b in zip(ts, ts[1:]):
            if b - a > gap_s:
                n += 1
        assert got[u] == n, (u, got[u], n)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 8), st.integers(0, 8), st.integers(0, 20)
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(0, 4),
)
def test_temporal_reachability_subset_of_bfs(spark, timed_edges, seed):
    """Cross-operator invariant: time constraints only REMOVE paths, so
    every node temporally reachable within r rounds must also be
    BFS-reachable within r rounds on the same (untimed) edge set — and
    a temporal path must exist per brute force."""
    from ufc_data_warehouse_spark.operators import graph

    edges = spark.createDataFrame(
        sorted(timed_edges), "src long, dst long, t long"
    )
    seeds = spark.createDataFrame([(seed,)], "node long")
    temporal = {
        r["node"]
        for r in graph.temporal_earliest_arrival(
            edges, seeds, rounds=3, start_t=0
        ).collect()
    }
    bfs = {
        r["node"]
        for r in graph.bfs_hops(
            edges.select("src", "dst"), seeds, rounds=3
        ).collect()
    }
    assert temporal <= bfs, temporal - bfs

    # brute-force temporal reachability for the exactness direction
    frontier = {seed: 0}
    best = dict(frontier)
    for _ in range(3):
        new = {}
        for u, at in best.items():
            for s, d, t in timed_edges:
                if s == u and t >= at and (d not in best or t < best.get(d, 1 << 62)):
                    if d not in new or t < new[d]:
                        new[d] = t
        for d, t in new.items():
            if d not in best or t < best[d]:
                best[d] = t
    assert temporal == set(best), (temporal, set(best))


def test_equidepth_buckets_are_balanced(spark):
    """Equi-depth histogram invariant: bucket populations differ by at
    most 1 (ntile over a total order guarantees it; this guards the
    total-order tie-break from regressing)."""
    from ufc_data_warehouse_spark.registry import queries

    from tests.conftest import SF_DIR

    rows = queries()["equidepth_histogram_price"].fn(spark, SF_DIR).collect()
    counts = [r["n"] for r in rows]
    assert max(counts) - min(counts) <= 1, counts


def test_pack_token_bins_capacity_bound(spark):
    """Offset-based packing invariant: all docs in a (lang, bin) START
    inside the 4096-token window, so a bin's total can exceed capacity
    only by (its largest doc − 1) tokens — the straddle bound."""
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.registry import queries

    from tests.conftest import SF_DIR

    df = queries()["pack_token_bins"].fn(spark, SF_DIR)
    rows = (
        df.groupBy("lang", "bin")
        .agg(F.sum("tokens").alias("total"), F.max("tokens").alias("mx"))
        .collect()
    )
    for r in rows:
        assert r["total"] <= 4096 + r["mx"] - 1, (
            r["lang"], r["bin"], r["total"], r["mx"],
        )


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="xyz 123", min_size=1, max_size=600),
        min_size=1,
        max_size=5,
    ),
    st.sampled_from([(200, 50), (100, 20), (64, 0)]),
)
def test_chunking_reconstructs_the_document(spark, texts, params):
    """Lossless-chunking property: stitching chunks back (dropping each
    chunk's leading `overlap` chars after the first) reproduces the
    normalized document exactly, for several (chunk, overlap) settings."""
    import re

    from ufc_data_warehouse_spark.operators import text as text_ops

    chunk_chars, overlap = params
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = text_ops.chunk_documents(
        df, chunk_chars=chunk_chars, overlap=overlap
    ).collect()
    by_doc: dict[int, list[tuple[int, str]]] = {}
    for r in chunks:
        by_doc.setdefault(r["id"], []).append((r["chunk_idx"], r["chunk_text"]))
    for i, t in enumerate(texts):
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        parts = [c for _, c in sorted(by_doc.get(i, []))]
        if not norm:
            continue
        rebuilt = parts[0] + "".join(p[overlap:] for p in parts[1:])
        assert rebuilt == norm, (i, rebuilt[:80], norm[:80])


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="abc3 ,.", min_size=1, max_size=120),
        min_size=1,
        max_size=6,
    )
)
def test_bpe_estimate_bounds(spark, texts):
    """Sanity bounds on the BPE token estimator: at least one token per
    word run, never more tokens than characters."""
    from ufc_data_warehouse_spark.operators import text as text_ops

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for r in text_ops.bpe_token_estimate(df).collect():
        assert r["est_tokens"] >= r["word_runs"]
        assert r["est_tokens"] <= max(1, len(texts[r["id"]]))


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.text(alphabet="abcd ", min_size=5, max_size=80))
def test_simhash_deterministic_for_identical_docs(spark, t):
    """Two identical documents must land on the identical simhash —
    Hamming distance zero regardless of row order or ids."""
    from ufc_data_warehouse_spark.operators import dedup

    df = spark.createDataFrame(
        [(0, t), (1, t)], "doc_id long, text string"
    )
    sigs = {r["id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert sigs[0] == sigs[1]


def test_tfidf_jvm_log_fallback_parity(spark, monkeypatch):
    """The capped JVM-log idf fallback must agree with the driver-side
    glibc-log path to the documented ±1-ulp-per-factor bound (rel err
    < 1e-15 per score), and produce the same (id, term, tf, df) rows
    when k covers the whole vocabulary."""
    from ufc_data_warehouse_spark.operators import text as text_ops

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(
        200
    )
    exact = text_ops.tfidf_top_terms(docs, k=10_000).collect()
    monkeypatch.setattr(text_ops, "IDF_MAP_CAP", 0)  # force JVM-log path
    approx = text_ops.tfidf_top_terms(docs, k=10_000).collect()
    key = lambda r: (r["id"], r["term"])  # noqa: E731
    ex = {key(r): r for r in exact}
    ap = {key(r): r for r in approx}
    assert ex.keys() == ap.keys()
    for k_, r in ex.items():
        a = ap[k_]
        assert (r["tf"], r["df"]) == (a["tf"], a["df"])
        assert abs(r["score"] - a["score"]) <= 1e-15 * max(
            1.0, abs(r["score"])
        ), k_


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="ab cd", min_size=3, max_size=40),
        min_size=2,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=8),
)
def test_simhash_banded_pairs_match_allpairs(spark, texts, max_hamming):
    """Pigeonhole banding is lossless: the banded equi-join + verify must
    return exactly the pairs the naive all-pairs join returns, for any
    corpus and threshold."""
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sigs = dedup.simhash(df).cache()
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_pairs(sigs, max_hamming=max_hamming).collect()
    }
    a = sigs.select(F.col("id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("simhash").alias("h_b"))
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .collect()
    }
    sigs.unpersist()
    assert banded == brute


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-128, max_value=127), min_size=8, max_size=8
        ),
        min_size=2,
        max_size=14,
    ),
    st.sampled_from([100, 5000, 30000, 120000]),
)
def test_int_vector_near_pairs_match_bruteforce(spark, vecs, max_d2):
    """Banded grid blocking is lossless at any threshold: same pairs and
    distances as the exhaustive quadratic check."""
    from ufc_data_warehouse_spark.operators import simsearch

    rows = [(i, [int(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "media_id long, fi array<long>")
    got = {
        (r["id_a"], r["id_b"], r["d2"])
        for r in simsearch.int_vector_near_pairs(
            df, max_d2=max_d2, dims=8
        ).collect()
    }
    want = set()
    for i, va in rows:
        for j, vb in rows:
            if i < j:
                d2 = sum((x - y) ** 2 for x, y in zip(va, vb))
                if d2 <= max_d2:
                    want.add((i, j, d2))
    assert got == want


def test_incremental_lsh_matches_pairwise_banding(spark):
    """The batch-vs-corpus index probe must find exactly the cross-side
    subset of the all-pairs LSH candidates (same bands, same buckets)."""
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(
        300
    )
    sigs = dedup.minhash_signatures(
        dedup.word_shingles(docs, n=3), num_hashes=16
    ).cache()
    batch = sigs.filter(F.col("id") % 10 == 0)
    corpus = sigs.filter(F.col("id") % 10 != 0)
    inc = {
        (r["batch_id"], r["corpus_id"])
        for r in dedup.incremental_lsh_candidates(corpus, batch).collect()
    }
    allpairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs).collect()
    }
    sigs.unpersist()
    cross = {
        (a, b) if a % 10 == 0 else (b, a)
        for a, b in allpairs
        if (a % 10 == 0) != (b % 10 == 0)
    }
    assert inc == cross


def test_pq_adc_matches_python_recompute(spark):
    """ADC ranking must equal a driver-side recompute of table-lookup
    distances from the same codes and codebooks."""
    from ufc_data_warehouse_spark.operators import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    codes_df, books = simsearch.pq_encode(emb, m=4, k=4, n_assign=2)
    probe = [
        float(x)
        for x in emb.filter("vec_id = 0").head()["embedding"]
    ]
    got = [
        (r["id"], r["rank"])
        for r in simsearch.pq_adc_topk(
            codes_df, books, probe, k_top=10, exclude_id=0
        ).orderBy("rank").collect()
    ]
    d_sub = 16
    tables = [
        [
            sum((probe[m * d_sub + j] - c[j]) ** 2 for j in range(d_sub))
            for c in books[m]
        ]
        for m in range(4)
    ]
    dists = []
    for r in codes_df.collect():
        if r["id"] == 0:
            continue
        d = 0.0
        for m in range(4):
            d += tables[m][r[f"code_{m}"]]
        dists.append((d, r["id"]))
    want = [
        (vid, rank + 1)
        for rank, (_, vid) in enumerate(sorted(dists)[:10])
    ]
    assert got == want


def test_rowlocal_minhash_matches_grouped(spark):
    """The zero-shuffle row-local minhash must be byte-identical to the
    explode+groupBy signature pipeline."""
    from ufc_data_warehouse_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(
        200
    )
    grouped = dedup.minhash_signatures(
        dedup.word_shingles(docs, n=3), num_hashes=16
    )
    rowlocal = dedup.minhash_signatures_rowlocal(docs, num_hashes=16)
    assert sorted(map(tuple, grouped.collect())) == sorted(
        map(tuple, rowlocal.collect())
    )


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    dim_keys=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    probe_keys=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=40,
    ),
    partitions=st.integers(min_value=1, max_value=4),
)
@example([], [0, 7, -3, None], 2)  # empty build side: every probe row fails
@example([5, 9], [None, 5, None, 4, 9], 3)  # NULL probe keys never pass
@example([1, 2, 3, 2**40], [3, 2**40, 17, 1, -1], 1)  # probe in one partition
def test_bloom_membership_matches_python_reference(
    spark, dim_keys, probe_keys, partitions
):
    """operators/bloomjoin.py's seeded-md5 bitmap must agree bit-for-bit
    with an independent pure-Python construction on arbitrary int64 keys
    (the cross-engine idiom's ground truth): every dim key passes (FN=0
    structurally), every probe flag equals the reference bitmap test, and
    a NULL probe key never passes."""
    import hashlib

    from ufc_data_warehouse_spark.operators.bloomjoin import (
        bloom_filter_map,
        with_bloom_membership,
    )

    M, K = 16384, 3

    def pos(key: int, seed: int) -> int:
        h = hashlib.md5(f"bf{seed}:{key}".encode()).hexdigest()
        return int(h[:7], 16) % M

    bits = set()
    for k in dim_keys:
        for s in range(K):
            bits.add(pos(k, s))

    def ref_pass(key: int) -> bool:
        return all(pos(key, s) in bits for s in range(K))

    dim = spark.createDataFrame([(k,) for k in dim_keys], "k long")
    probe = spark.createDataFrame(
        [(i, k) for i, k in enumerate(probe_keys)], "i long, k long"
    ).repartition(partitions)
    assert probe.rdd.getNumPartitions() == partitions
    filt = bloom_filter_map(dim, "k")
    got = {
        r["i"]: r["bloom_pass"]
        for r in with_bloom_membership(probe, "k", filt).collect()
    }
    assert len(got) == len(probe_keys)
    for i, k in enumerate(probe_keys):
        if k is None:
            assert got[i] is not True, i
        else:
            assert got[i] == ref_pass(k), (i, k)
    # structural FN=0: every dim key itself must pass
    dflags = with_bloom_membership(
        dim.withColumnRenamed("k", "k2"), "k2", filt
    ).collect()
    assert all(r["bloom_pass"] for r in dflags)


def test_lsh_bucket_signatures_skips_leading_null_vectors(spark):
    """dims inference must come from the first NON-NULL, NON-EMPTY vector:
    a corpus whose first row is null/empty used to silently return zero
    buckets for every valid row (r5 ADVICE)."""
    from ufc_data_warehouse_spark.operators.simsearch import (
        lsh_bucket_signatures,
    )

    rows = [
        (0, None),
        (1, []),
        (2, [1.0, -2.0, 0.5, 3.0]),
        (3, [0.1, 0.2, -0.3, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = lsh_bucket_signatures(df, num_planes=4)
    ids = {r["id"] for r in got.collect()}
    assert ids == {2, 3}
    # reference: the same corpus with the null/empty rows pre-filtered
    clean = lsh_bucket_signatures(df.filter("vec_id >= 2"), num_planes=4)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, clean.collect())
    )
    # all-null corpus still returns the stable empty schema
    empty = lsh_bucket_signatures(
        df.filter("vec_id = 0"), num_planes=4
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "bucket"]


_POINTS = st.lists(
    st.tuples(st.integers(-20, 20), st.integers(-20, 20)), max_size=25
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_POINTS, st.integers(1, 8), st.sampled_from([1, 3]), st.integers(0, 3))
@example([], 3, 1, 1)  # no points
@example([(4, -4)], 3, 1, 0)  # one point: no neighbor, count 0
@example([(2, 2), (2, 2), (2, 2), (-7, 5)], 3, 3, 2)  # duplicate coordinates
@example([(0, 0), (1, 5), (6, 6), (9, 2)], 10, 3, 1)  # all in one cell
def test_grid_join_matches_all_pairs(spark, pts, radius, n_parts, min_pts):
    """``nn_within_radius`` and ``density_core_points`` (one shared 3×3
    grid join) == an all-pairs scan, on degenerate point sets: empty,
    single, duplicated, single-cell, negative coordinates, one partition."""
    from ufc_data_warehouse_spark.operators import spatial

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "id long, x long, y long"
    ).repartition(n_parts)
    within = {
        i: [
            ((x - nx) ** 2 + (y - ny) ** 2, j)
            for j, (nx, ny) in enumerate(pts)
            if j != i and (x - nx) ** 2 + (y - ny) ** 2 <= radius * radius
        ]
        for i, (x, y) in enumerate(pts)
    }
    nn = spatial.nn_within_radius(df, id_col="id", x="x", y="y", radius=radius)
    assert {(r["id"], r["d2"], r["nn_id"]) for r in nn.collect()} == {
        (i, *min(ds)) for i, ds in within.items() if ds
    }
    core = spatial.density_core_points(
        df, id_col="id", x="x", y="y", eps=radius, min_pts=min_pts
    )
    assert {
        (r["id"], r["n_neighbors"], r["is_core"]) for r in core.collect()
    } == {(i, len(ds), len(ds) >= min_pts) for i, ds in within.items()}
