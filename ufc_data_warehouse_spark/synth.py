"""Deterministic UFC-shaped raw tables derived from the driver testdata.

The correctness gate runs each Spark query against a DuckDB oracle over the
SAME parquet tables (/root/testdata/sf*/). The reference's domain is UFC
fight data, so we derive its raw-layer tables (the schemas dlt loads at
/root/reference/dlt/load.py:18-29 + FIXTURES.md) from ``lineitem``/``orders``
with pure integer arithmetic + string concat — implemented twice from ONE set
of Python constants:

- :func:`ufc_raw_tables` — Spark DataFrames (Column expressions, no UDFs);
- :func:`synth_ctes` — the equivalent DuckDB ``WITH``-clause fragment.

Any drift between the two is caught by ``tests/test_synth_parity.py`` which
hash-compares the derived tables engine-vs-engine.

All derived columns are VARCHAR/StringType — matching the reference's
stringly-typed raw layer (csv.DictReader rows, /root/reference/dlt/load.py:36-41);
typing happens in staging, exactly like the reference.

Value-domain requirements implemented here (from FIXTURES.md):
- 4 date formats + unparseable strings (→ regex-guarded cascade);
- events missing from event_details (left-join nulls): ev 300-304;
- fighters reused across many rows; single-word and 2-word names;
- outcomes W/L, L/W, D/D, NC/NC; title/interim/tournament/women's bouts;
- division 11 has ONLY interim title bouts → exercises the interim-fallback
  branch of title_reigns (reference title_reigns.sql:107-121);
- malformed round ('') and time (no ':') values;
- status-change fighter tokens: full / last-only / first-only / 'Both X (…)'
  / 'X retired' (reference title_reigns.sql:163-184).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scale import spread_single_split as _spread

# ---------------------------------------------------------------------------
# shared value pools (single source of truth for BOTH engines)
# ---------------------------------------------------------------------------

DIVISIONS: list[str] = [
    "Flyweight",
    "Bantamweight",
    "Featherweight",
    "Lightweight",
    "Welterweight",
    "Middleweight",
    "Light Heavyweight",
    "Heavyweight",
    "Women's Strawweight",
    "Women's Flyweight",
    "Women's Bantamweight",
    "Women's Featherweight",
]

FIRST_NAMES: list[str] = ["Alex", "Maria", "John", "Aisha", "Chen", "Olga", "Raul"]

METHODS: list[str] = [
    "KO/TKO",
    "Submission",
    "Decision - Unanimous",
    "Decision - Split",
    "TKO - Doctor's Stoppage",
    "Could Not Continue",
    "DQ",
]

REASONS: list[str] = ["vacancy", "strip", "retirement", ""]

EVENT_EPOCH = "1993-11-12"  # UFC 1's real date; synthetic events step 41 days
STATUS_EPOCH = "1995-03-01"
N_EVENTS = 300  # ev 300-304 appear in fights but not event_details
N_FIGHTERS = 60
N_DIVISIONS = len(DIVISIONS)

# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def _pick(idx: Column, values: list[str]) -> Column:
    """values[idx] as a codegen-friendly element_at over an array literal
    (no join, no UDF). Built as ONE sql expression string: the WHEN-ladder
    Column form costs len(values) py4j round-trips per call site, which
    measurably dominates plan-construction time for this module (~1.5 s
    of driver chatter per ufc_raw_tables call at any scale factor)."""
    quoted = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    # pmod-bound the index: element_at would otherwise index from the END
    # for a negative idx (and raise on idx == -1) instead of yielding the
    # in-range pick a caller expects — all current call sites pass
    # already-bounded idx, so this only guards future callers.
    bounded = F.pmod(idx.cast("int"), F.lit(len(values)))
    return F.element_at(F.expr(f"array({quoted})"), bounded + 1)


def _fighter_name(fid: Column) -> Column:
    single = F.concat(F.lit("Fighter"), fid.cast("string"))
    full = F.concat(_pick(fid % 7, FIRST_NAMES), F.lit(" Fighter"), fid.cast("string"))
    return F.when(fid % 13 == 0, single).otherwise(full)


def _fmt_date(date_col: Column, sel: Column, blank_when: Column, blank_val: str) -> Column:
    """Format a date in one of the 4 reference formats chosen by ``sel``,
    or emit ``blank_val`` when ``blank_when`` (the unparseable branch)."""
    return (
        F.when(blank_when, F.lit(blank_val))
        .when(sel == 0, F.date_format(date_col, "MMM d, yyyy"))
        .when(sel == 1, F.date_format(date_col, "MMMM d, yyyy"))
        .when(sel == 2, F.date_format(date_col, "MMM yyyy"))
        .otherwise(F.date_format(date_col, "MMMM yyyy"))
    )


def ufc_raw_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Derive the reference's raw-layer tables from the testdata parquet."""
    lineitem = _spread(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    orders = _spread(spark.read.parquet(f"{sf_dir}/orders.parquet"))

    # ---- dim_ufc_event_details (FIXTURES.md table 1) ----
    ev = F.col("ev")
    base_date = F.date_add(F.lit(EVENT_EPOCH).cast("date"), (ev * 41).cast("int"))
    event_details = (
        orders.select((F.col("o_orderkey") % N_EVENTS).alias("ev"))
        .distinct()
        .select(
            F.concat(F.lit("UFC "), ev.cast("string")).alias("event"),
            F.concat(F.lit("http://events/"), ev.cast("string")).alias("url"),
            _fmt_date(base_date, ev % 4, ev % 29 == 0, "TBD").alias("date"),
            F.concat(
                F.lit("City"), (ev % 20).cast("string"),
                F.lit(", Region"), (ev % 7).cast("string"),
                F.lit(", Country"), (ev % 5).cast("string"),
            ).alias("location"),
        )
    )

    # ---- fact_ufc_fight_results (FIXTURES.md table 2) ----
    ok, pk, sk, ln = (F.col(c) for c in ("ok", "pk", "sk", "ln"))
    # DISTINCT: (l_orderkey, l_linenumber) is not unique in the synthetic
    # testdata; the full tuple nearly is — dedup so url is a unique fight_id.
    base = (
        lineitem.select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_partkey").alias("pk"),
            F.col("l_suppkey").alias("sk"),
            F.col("l_linenumber").cast("bigint").alias("ln"),
        )
        .distinct()
        .withColumn("h", ok * 7 + ln * 13 + pk * 3 + sk)
    )
    h = F.col("h")
    fid1 = pk % N_FIGHTERS
    fid2 = (fid1 + 1 + (sk % (N_FIGHTERS - 1))) % N_FIGHTERS
    f1 = _fighter_name(fid1)
    f2 = _fighter_name(fid2)
    o20 = h % 20
    win1 = ((fid1 < fid2) & (o20 < 15)) | ((fid1 >= fid2) & (o20 < 5))
    div = ok % N_DIVISIONS
    dn = _pick(div, DIVISIONS)
    t = h % 10
    evf = (ok % (N_EVENTS + 5)).cast("string")
    fight_results = base.select(
        F.when(ln == 7, F.concat(F.lit(" UFC "), evf))
        .otherwise(F.concat(F.lit("UFC "), evf))
        .alias("event"),
        F.concat(f1, F.lit(" vs. "), f2).alias("bout"),
        F.when(o20 == 19, "NC/NC")
        .when(o20 == 18, "D/D")
        .when(win1, "W/L")
        .otherwise("L/W")
        .alias("outcome"),
        F.when((t < 2) & (div != 11), F.concat(F.lit("UFC "), dn, F.lit(" Title Bout")))
        .when((t == 2) | ((t < 2) & (div == 11)),
              F.concat(F.lit("UFC Interim "), dn, F.lit(" Title Bout")))
        .when(t == 3, F.concat(F.lit("UFC "), dn, F.lit(" Tournament Title Bout")))
        .otherwise(F.concat(dn, F.lit(" Bout")))
        .alias("weightclass"),
        _pick((sk + ln) % 7, METHODS).alias("method"),
        F.when((ok + pk) % 23 == 0, "")
        .otherwise((1 + (ok + ln) % 5).cast("string"))
        .alias("round"),
        F.when((ok + sk + ln) % 19 == 0, "N/A")
        .otherwise(
            F.concat((h % 5).cast("string"), F.lit(":"),
                     F.lpad((h % 60).cast("string"), 2, "0"))
        )
        .alias("time"),
        F.when(t <= 3, "5 Rnd (5-5-5-5-5)").otherwise("3 Rnd (5-5-5)").alias("time_format"),
        F.concat(F.lit("Ref "), (h % 9).cast("string")).alias("referee"),
        F.lit("synthetic").alias("details"),
        F.concat(
            F.lit("http://fights/"), ok.cast("string"), F.lit("-"), ln.cast("string"),
            F.lit("-"), pk.cast("string"), F.lit("-"), sk.cast("string"),
        ).alias("url"),
    )

    # ---- title_status_changes_outside_octagon (FIXTURES.md table 3) ----
    sok = F.col("ok")
    status_base = (
        orders.select(F.col("o_orderkey").alias("ok"))
        .filter(F.col("ok") % 50 == 0)
    )
    change_date = F.date_add(F.lit(STATUS_EPOCH).cast("date"), (sok % 9000).cast("int"))
    tfid = sok % N_DIVISIONS
    tname = _fighter_name(tfid)
    tok = sok % 5
    status_changes = status_base.select(
        _fmt_date(change_date, sok % 4, sok % 37 == 0, "").alias("date"),
        F.when(tok == 0, tname)
        .when(tok == 1, F.concat(F.lit("Fighter"), tfid.cast("string")))
        .when(tok == 2, _pick(tfid % 7, FIRST_NAMES))
        .when(tok == 3, F.concat(F.lit("Both "), tname, F.lit(" (injury)")))
        .otherwise(F.concat(tname, F.lit(" retired")))
        .alias("fighter"),
        F.concat(F.lit("UFC "), _pick(tfid, DIVISIONS), F.lit(" Championship"))
        .alias("weight_category"),
        _pick((sok + 1) % 4, REASONS).alias("reason"),
        F.lit("Synthetic status change.").alias("statement"),
    )

    # ---- parity-only sources (loaded, unused by models — SURVEY §1.2) ----
    fight_details = fight_results.select("event", "bout", "url")
    fighter_details = (
        spark.range(N_FIGHTERS)
        .select(F.col("id").cast("bigint").alias("fid"))
        .select(
            F.when(F.col("fid") % 13 == 0, F.lit(""))
            .otherwise(_pick(F.col("fid") % 7, FIRST_NAMES))
            .alias("first"),
            F.concat(F.lit("Fighter"), F.col("fid").cast("string")).alias("last"),
            F.concat(F.lit("The "), _pick(F.col("fid") % 7, FIRST_NAMES)).alias("nickname"),
            F.concat(F.lit("http://fighters/"), F.col("fid").cast("string")).alias("url"),
        )
    )

    fid = F.col("fid")
    fighter_tott = (
        spark.range(N_FIGHTERS)
        .select(F.col("id").cast("bigint").alias("fid"))
        .select(
            _fighter_name(fid).alias("fighter"),
            F.concat((60 + fid % 20).cast("string"), F.lit('"')).alias("height"),
            F.concat((125 + fid * 5 % 140).cast("string"), F.lit(" lbs.")).alias("weight"),
            F.concat((60 + fid % 25).cast("string"), F.lit('"')).alias("reach"),
            F.when(fid % 3 == 0, "Orthodox").when(fid % 3 == 1, "Southpaw")
            .otherwise("Switch").alias("stance"),
            _fmt_date(
                F.date_add(F.lit("1970-01-01").cast("date"), (fid * 200).cast("int")),
                fid % 4, F.lit(False), "",
            ).alias("dob"),
            F.concat(F.lit("http://fighters/"), fid.cast("string")).alias("url"),
        )
    )
    fight_stats = base.select(
        F.when(ln == 7, F.concat(F.lit(" UFC "), evf))
        .otherwise(F.concat(F.lit("UFC "), evf)).alias("event"),
        F.concat(f1, F.lit(" vs. "), f2).alias("bout"),
        F.when((ok + pk) % 23 == 0, "").otherwise((1 + (ok + ln) % 5).cast("string"))
        .alias("round"),
        f1.alias("fighter"),
        (h % 4).cast("string").alias("kd"),
        F.concat((h % 60).cast("string"), F.lit(" of "), (h % 60 + h % 30).cast("string"))
        .alias("sig_str"),
        F.concat((h % 100).cast("string"), F.lit("%")).alias("sig_str_pct"),
        F.concat(F.lit("http://fights/"), ok.cast("string"), F.lit("-"), ln.cast("string"),
                 F.lit("-"), pk.cast("string"), F.lit("-"), sk.cast("string")).alias("url"),
    )

    return {
        "dim_ufc_event_details": event_details,
        "fact_ufc_fight_results": fight_results,
        "title_status_changes_outside_octagon": status_changes,
        "fact_ufc_fight_details": fight_details,
        "fact_ufc_fight_stats": fight_stats,
        "dim_ufc_fighter_details": fighter_details,
        "dim_ufc_fighter_tott": fighter_tott,
    }


# ---------------------------------------------------------------------------
# DuckDB side — generated from the SAME constants
# ---------------------------------------------------------------------------


def _q(s: str) -> str:
    return s.replace("'", "''")


def _sql_pick(idx_expr: str, values: list[str]) -> str:
    arms = " ".join(
        f"WHEN ({idx_expr}) = {i} THEN '{_q(v)}'" for i, v in enumerate(values)
    )
    return f"(CASE {arms} END)"


def _sql_fighter_name(fid_expr: str) -> str:
    return (
        f"(CASE WHEN ({fid_expr}) % 13 = 0 THEN 'Fighter' || CAST({fid_expr} AS VARCHAR) "
        f"ELSE {_sql_pick(f'({fid_expr}) % 7', FIRST_NAMES)} || ' Fighter' || "
        f"CAST({fid_expr} AS VARCHAR) END)"
    )


def _sql_fmt_date(date_expr: str, sel_expr: str, blank_cond: str, blank_val: str) -> str:
    return (
        f"(CASE WHEN {blank_cond} THEN '{blank_val}' "
        f"WHEN ({sel_expr}) = 0 THEN strftime({date_expr}, '%b %-d, %Y') "
        f"WHEN ({sel_expr}) = 1 THEN strftime({date_expr}, '%B %-d, %Y') "
        f"WHEN ({sel_expr}) = 2 THEN strftime({date_expr}, '%b %Y') "
        f"ELSE strftime({date_expr}, '%B %Y') END)"
    )


def synth_ctes() -> str:
    """DuckDB CTE bodies for the three model-feeding raw tables; meant to be
    embedded in ``WITH <this>, <staging…> SELECT …`` oracle queries."""
    ev_date = f"(DATE '{EVENT_EPOCH}' + CAST(ev * 41 AS INTEGER))"
    st_date = f"(DATE '{STATUS_EPOCH}' + CAST(ok % 9000 AS INTEGER))"
    fid1 = "(pk % 60)"
    fid2 = f"(({fid1} + 1 + (sk % 59)) % 60)"
    tfid = "(ok % 12)"
    tname = _sql_fighter_name(tfid)
    return f"""
dim_ufc_event_details AS (
  SELECT
    'UFC ' || CAST(ev AS VARCHAR) AS event,
    'http://events/' || CAST(ev AS VARCHAR) AS url,
    {_sql_fmt_date(ev_date, 'ev % 4', 'ev % 29 = 0', 'TBD')} AS "date",
    'City' || CAST(ev % 20 AS VARCHAR) || ', Region' || CAST(ev % 7 AS VARCHAR)
      || ', Country' || CAST(ev % 5 AS VARCHAR) AS location
  FROM (SELECT DISTINCT o_orderkey % {N_EVENTS} AS ev FROM orders)
),
fact_ufc_fight_results AS (
  SELECT
    CASE WHEN ln = 7 THEN ' UFC ' || CAST(ok % {N_EVENTS + 5} AS VARCHAR)
         ELSE 'UFC ' || CAST(ok % {N_EVENTS + 5} AS VARCHAR) END AS event,
    {_sql_fighter_name(fid1)} || ' vs. ' || {_sql_fighter_name(fid2)} AS bout,
    CASE WHEN h % 20 = 19 THEN 'NC/NC'
         WHEN h % 20 = 18 THEN 'D/D'
         WHEN ({fid1} < {fid2} AND h % 20 < 15)
           OR ({fid1} >= {fid2} AND h % 20 < 5) THEN 'W/L'
         ELSE 'L/W' END AS outcome,
    CASE WHEN h % 10 < 2 AND ok % 12 <> 11
           THEN 'UFC ' || {_sql_pick('ok % 12', DIVISIONS)} || ' Title Bout'
         WHEN h % 10 = 2 OR (h % 10 < 2 AND ok % 12 = 11)
           THEN 'UFC Interim ' || {_sql_pick('ok % 12', DIVISIONS)} || ' Title Bout'
         WHEN h % 10 = 3
           THEN 'UFC ' || {_sql_pick('ok % 12', DIVISIONS)} || ' Tournament Title Bout'
         ELSE {_sql_pick('ok % 12', DIVISIONS)} || ' Bout' END AS weightclass,
    {_sql_pick('(sk + ln) % 7', METHODS)} AS method,
    CASE WHEN (ok + pk) % 23 = 0 THEN ''
         ELSE CAST(1 + (ok + ln) % 5 AS VARCHAR) END AS round,
    CASE WHEN (ok + sk + ln) % 19 = 0 THEN 'N/A'
         ELSE CAST(h % 5 AS VARCHAR) || ':' || lpad(CAST(h % 60 AS VARCHAR), 2, '0')
         END AS "time",
    CASE WHEN h % 10 <= 3 THEN '5 Rnd (5-5-5-5-5)' ELSE '3 Rnd (5-5-5)' END AS time_format,
    'Ref ' || CAST(h % 9 AS VARCHAR) AS referee,
    'synthetic' AS details,
    'http://fights/' || CAST(ok AS VARCHAR) || '-' || CAST(ln AS VARCHAR)
      || '-' || CAST(pk AS VARCHAR) || '-' || CAST(sk AS VARCHAR) AS url
  FROM (
    SELECT ok, pk, sk, ln, ok * 7 + ln * 13 + pk * 3 + sk AS h
    FROM (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk, l_suppkey AS sk,
             CAST(l_linenumber AS BIGINT) AS ln
      FROM lineitem
    )
  )
),
title_status_changes_outside_octagon AS (
  SELECT
    {_sql_fmt_date(st_date, 'ok % 4', 'ok % 37 = 0', '')} AS "date",
    CASE WHEN ok % 5 = 0 THEN {tname}
         WHEN ok % 5 = 1 THEN 'Fighter' || CAST({tfid} AS VARCHAR)
         WHEN ok % 5 = 2 THEN {_sql_pick(f'({tfid}) % 7', FIRST_NAMES)}
         WHEN ok % 5 = 3 THEN 'Both ' || {tname} || ' (injury)'
         ELSE {tname} || ' retired' END AS fighter,
    'UFC ' || {_sql_pick(tfid, DIVISIONS)} || ' Championship' AS weight_category,
    {_sql_pick('(ok + 1) % 4', REASONS)} AS reason,
    'Synthetic status change.' AS statement
  FROM (SELECT o_orderkey AS ok FROM orders WHERE o_orderkey % 50 = 0)
)"""
