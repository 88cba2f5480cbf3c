"""Shared Column-expression helpers — SURVEY §2.8's scalar-function table.

These are the Spark-native equivalents of the Postgres scalar idioms the
reference leans on. Each helper returns a ``Column`` (never a ``udf``) so
every expression stays inside Catalyst / whole-stage codegen — the JVM fast
path. Reference sites cited per-helper.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# string helpers
# ---------------------------------------------------------------------------


def split_part(col: Column | str, delim: str, n: int) -> Column:
    """Postgres ``split_part(s, delim, n)`` (1-based, literal delimiter).

    Semantic trap (SURVEY X3): PG returns ``''`` when n is out of range but
    Spark's ``getItem`` returns null — coalesce restores PG behavior while
    keeping null-in → null-out.
    Reference: /root/reference/ufc/models/stg/stg_fight_results.sql:13-16.
    """
    c = F.col(col) if isinstance(col, str) else col
    part = F.split(c, re.escape(delim)).getItem(n - 1)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.coalesce(part, F.lit(""))
    )


def last_word(col: Column | str) -> Column:
    """``split_part(s, ' ', array_length(string_to_array(s, ' '), 1))`` —
    last whitespace token (last name). Single-word names return themselves.
    Reference: /root/reference/ufc/models/core/dim_fighter.sql:15-20.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, " "), -1)


def empty_to_null(col: Column | str) -> Column:
    """``nullif(x, '')`` — reference stg_fight_results.sql:9."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(c, F.lit(""))


def not_null_or_empty(col: Column | str) -> Column:
    """The ubiquitous ``x is not null and x <> ''`` predicate (SURVEY P3)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & (c != "")


# ---------------------------------------------------------------------------
# date parsing — the 4-format regex-guarded cascade (SURVEY X7)
# ---------------------------------------------------------------------------

# POSIX [[:space:]] (PG regex) → \s (Java regex). Guards mirror
# /root/reference/ufc/models/stg/stg_event_details.sql:16-26 exactly so null
# behavior matches the oracle on unparseable strings.
_DATE_FORMATS: list[tuple[str, str]] = [
    (r"^[A-Za-z]{3}\s+[0-9]{1,2},\s+[0-9]{4}$", "MMM d, yyyy"),
    (r"^[A-Za-z]+\s+[0-9]{1,2},\s+[0-9]{4}$", "MMMM d, yyyy"),
    (r"^[A-Za-z]{3}\s+[0-9]{4}$", "MMM yyyy"),
    (r"^[A-Za-z]+\s+[0-9]{4}$", "MMMM yyyy"),
]


def to_date_cascade(col: Column | str) -> Column:
    """Regex-guarded 4-format date parse ('Mon DD, YYYY' | 'Month DD, YYYY'
    | 'Mon YYYY' | 'Month YYYY'), null for anything else.

    Reference: stg_event_details.sql:16-26 and title_reigns.sql:188-198.
    """
    c = F.col(col) if isinstance(col, str) else col
    expr = F.lit(None).cast("date")
    # Build the CASE ladder back-to-front to preserve first-match-wins order.
    for pattern, fmt in reversed(_DATE_FORMATS):
        expr = F.when(c.rlike(pattern), F.try_to_date(c, fmt)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# domain normalizers
# ---------------------------------------------------------------------------


def strip_title_bout_suffix(col: Column) -> Column:
    """``regexp_replace(w, '[[:space:]]+Title Bout[[:space:]]*$', '', 'i')``.
    Spark regexes are global-by-default; PG's 'i' flag becomes inline (?i).
    Reference: fct_fights.sql:10-22, title_reigns.sql:26-33.
    """
    return F.regexp_replace(col, r"(?i)\s+Title Bout\s*$", "")


def weight_category(col: Column | str, strip_interim: bool = True) -> Column:
    """Normalize a raw weightclass to its division name: strip the
    ``Title Bout`` suffix, the ``UFC`` prefix, and (optionally) the
    ``Interim`` prefix, then trim.

    Reference: fct_fights.sql:10-22 (with interim), title_defenses.sql:20-27
    (without).
    """
    c = F.col(col) if isinstance(col, str) else col
    out = strip_title_bout_suffix(c)
    out = F.regexp_replace(out, r"(?i)^UFC\s+", "")
    if strip_interim:
        out = F.regexp_replace(out, r"(?i)^Interim\s+", "")
    return F.trim(out)


def method_group(method: Column | str) -> Column:
    """Bucket a raw method into KO/TKO | Submission | Decision | Other.
    Reference: stg_fight_results.sql:38-43 (ilike CASE ladder, SURVEY X6).
    """
    m = F.col(method) if isinstance(method, str) else method
    return (
        F.when(m.ilike("%KO%"), "KO/TKO")
        .when(m.ilike("%SUB%"), "Submission")
        .when(m.ilike("%DEC%"), "Decision")
        .otherwise("Other")
    )


def fight_time_seconds(time: Column, round_number: Column) -> Column:
    """``((round-1)*300) + mm*60 + ss`` with malformed-time guard.
    Reference: stg_fight_results.sql:44-49 (SURVEY X15, P8 instr guard).
    """
    malformed = time.isNull() | (F.instr(time, ":") == 0) | round_number.isNull()
    mm = F.split(time, ":").getItem(0).cast("int")
    ss = F.split(time, ":").getItem(1).cast("int")
    return F.when(malformed, F.lit(None).cast("int")).otherwise(
        (round_number - 1) * 300 + mm * 60 + ss
    )


def image_slug_url(fighter: Column | str, base: str = "http://localhost:8888/") -> Column:
    """Fighter image URL: lowercase → ``[^a-z0-9]+`` → ``_`` → trim ``_``,
    wrapped in base/slug.png; null-safe.
    Reference: ufc/macros/fighter_image_url.sql:1-15 and the inlined copy in
    metabase/charts.sh:157-169 (SURVEY X13).
    """
    c = F.col(fighter) if isinstance(fighter, str) else fighter
    slug = F.regexp_replace(
        F.regexp_replace(F.lower(c), "[^a-z0-9]+", "_"), "^_+|_+$", ""
    )
    return F.when(
        c.isNull() | (c == ""), F.lit(None).cast("string")
    ).otherwise(F.concat(F.lit(base), slug, F.lit(".png")))
