"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query (title_reigns — the reference's hardest
  model) on /root/testdata/sf0.001.
- ``queries()``: one entry per implemented operator/model from SURVEY.md §2.
  UFC models run over the synthetic UFC raw layer derived deterministically
  from the testdata (see ufc_data_warehouse_spark/synth.py).
- ``oracle_sql()``: the DuckDB-equivalent SQL for every query.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ufc_data_warehouse_spark.api import build_model  # noqa: E402
from ufc_data_warehouse_spark.oracle import model_names, oracle_for  # noqa: E402
from ufc_data_warehouse_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: champion-lineage reconstruction (title_reigns)."""
    return build_model(spark, "/root/testdata/sf0.001", "title_reigns")


def _model_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return build_model(spark, sf_dir, name)

    run.__name__ = f"query_{name}"
    return run


def _green_rounds(directory: str | None = None) -> dict[str, int]:
    """name -> LATEST round with a fully-green CORRECTNESS row.

    Green REQUIRES ``hash_match is True`` — a missing/None hash_match
    (e.g. a driver-format change) must not silently rotate an unverified
    query out of the window. An unparseable round number in the filename
    counts as round 0 (green, but staler than any REVERIFY entry).
    """
    import glob
    import json

    here = directory or os.path.dirname(os.path.abspath(__file__))
    green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        base = os.path.basename(path)
        digits = base[len("CORRECTNESS_r"):].split(".", 1)[0]
        rnd = int(digits) if digits.isdigit() else 0
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") is True
            ):
                green[name] = max(green.get(name, 0), rnd)
    return green


def _reverify_stale(directory: str | None = None) -> dict[str, int]:
    """name -> round the implementation was (re)written in (r5 task 2).

    ``REVERIFY.txt`` lines ``<name> <round>`` record that the named
    query's implementation was rewritten — or first added — DURING round
    ``<round>``. The round-N driver gate runs at the round's final HEAD,
    so a green CORRECTNESS row from a round < ``<round>`` certifies OLD
    code and must not rotate the name out of the driver window, while a
    green row from round ≥ ``<round>`` certifies the current code and
    clears the entry (``_driver_verified`` compares rounds; stale lines
    are harmless to keep committed). VERDICT r6 nit 3: ``<round>`` is the
    ACTUAL rewrite round — the strict ``<`` comparison makes that
    convention self-consistent whether the gate has run yet or not.

    Brand-new queries ride the same file (VERDICT r6 task 2 fast lane):
    a listed name with NO green row at all sorts into the front-of-window
    ``(-1, 0, pos)`` tier in :func:`_rotation_key`, so a query added this
    round is driver-checked this round instead of waiting out the
    generic rotation.
    """
    here = directory or os.path.dirname(os.path.abspath(__file__))
    out: dict[str, int] = {}
    try:
        with open(os.path.join(here, "REVERIFY.txt")) as f:
            for raw in f:
                line = raw.split("#", 1)[0].strip()
                if not line:
                    continue
                parts = line.split()
                if len(parts) == 2 and parts[1].lstrip("r").isdigit():
                    rnd = int(parts[1].lstrip("r"))
                    out[parts[0]] = max(out.get(parts[0], 0), rnd)
    except OSError:
        pass
    return out


def _driver_verified(directory: str | None = None) -> set[str]:
    """Query names verified by the driver AGAINST THEIR CURRENT CODE.

    The driver checks a fixed-size prefix of ``queries()`` per round, so
    rotating already-verified names to the back makes each round's window
    land on fresh queries — cumulative driver-green coverage across
    rounds instead of re-checking the same 50. The CORRECTNESS_r*.json
    inputs this depends on are committed to the repo by the driver each
    round, so the ordering is reproducible from a checkout.

    A name is verified iff its latest green round is ≥ its REVERIFY.txt
    rewrite round (if any): the round-N gate runs at round N's final
    HEAD, so a round-N green certifies a round-N rewrite, while an older
    green certifies code that no longer exists (VERDICT r5 task 2 —
    window_distribution's r04 row vs its r5 rewrite).
    """
    green = _green_rounds(directory)
    stale = _reverify_stale(directory)
    return {n for n, r in green.items() if r >= stale.get(n, 0)}


def _reverify_resample(directory: str | None = None) -> list[str]:
    """Previously-green names whose green predates a rewrite — they get
    first claim on the regression-resample slots (they ARE the names
    most in need of a driver re-check), keeping the fresh-slot count of
    the window intact."""
    green = _green_rounds(directory)
    stale = _reverify_stale(directory)
    return sorted(n for n, r in stale.items() if n in green and green[n] < r)


# Families the judge asked to see driver-verified next (VERDICT r2 task 1:
# ann_/dedup_/text_/multimodal_/curation_), plus the non-prefixed members
# of the curation set and the validation/etl surface (task 5). Highest
# priority first; anything unmatched sorts after these, already-verified
# last except for a small re-sampled regression window (see _rotated).
_ROTATION_PRIORITY = ("ann_", "dedup_", "text_", "multimodal_", "curation_")
_ROTATION_NAMES = (
    # validation + etl surfaces first (dbt-generic-test analog, SCD) so
    # they stay inside the driver's 50-query window as the prefix
    # families grow
    "dq_orders_checks",
    "scd2_user_status_versions",
    # curation set without the curation_ prefix
    "decontaminate_ngram_overlap",
    "quota_top_docs_per_source",
    "pii_column_scan",
    "blocklist_domain_filter",
    # remaining curation + etl names (next window if this round's is full)
    "cdc_user_state",
    "pseudonymize_user_ids",
    "k_anonymity_audit",
    "incremental_dedup_pairs",
    "scd2_point_in_time_join",
    "snapshot_diff_user_state",
    "incremental_agg_maintenance",
)

# Already-verified names re-checked per round so a regression in a prior
# green can still be caught by the driver (not only by the repo's own
# oracle sweep). Chosen deterministically, rotating with the round index.
_REGRESSION_RESAMPLE = 4
_RESAMPLE_AT = 44  # position in the order: inside the driver's 50-window


def _resampled(verified: set[str], round_idx: int) -> list[str]:
    import hashlib

    def key(name: str) -> str:
        return hashlib.md5(f"{round_idx}:{name}".encode()).hexdigest()

    return sorted(sorted(verified), key=key)[:_REGRESSION_RESAMPLE]


def _round_index() -> int:
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    return len(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))) + 1


def _rotation_key(verified: set[str], reverify_fresh: set[str] = frozenset()):
    def key(item: tuple[int, str]) -> tuple[int, int, int]:
        pos, name = item
        if name in reverify_fresh and name not in verified:
            # rewritten-and-never-green: must not miss this round's window
            return (-1, 0, pos)
        if name in verified:
            return (3, 0, pos)
        for i, prefix in enumerate(_ROTATION_PRIORITY):
            if name.startswith(prefix):
                return (0, i, pos)
        if name in _ROTATION_NAMES:
            return (1, _ROTATION_NAMES.index(name), pos)
        return (2, 0, pos)

    return key


def _rotated(
    names: list[str],
    verified: set[str] | None = None,
    round_idx: int | None = None,
    reverify_fresh: set[str] | None = None,
    reverify_resample: list[str] | None = None,
) -> list[str]:
    """Order ``names`` so the driver's fixed 50-prefix lands on fresh work.

    ``verified``/``round_idx`` default to the live repo's committed
    CORRECTNESS_r*.json state; tests inject synthetic values so the suite
    stays green regardless of what the driver has committed (VERDICT r3
    task 1 — the previous window-composition test asserted the mutable
    repo state and went stale every round).

    Rewrite-awareness (VERDICT r5 task 2): REVERIFY.txt names whose last
    green row predates their rewrite re-enter the window — the
    never-green ones at the very FRONT (they've never been checked at
    all), the previously-green ones as the leading regression-resample
    slots (a re-check of a prior green is exactly what the resample
    budget exists for, so fresh-slot count is preserved). The resample
    block is CAPPED at ``_REGRESSION_RESAMPLE`` (r6 ADVICE 1): when more
    stale-green rewrites are pending than the block holds, the excess
    spills to the window FRONT instead of growing the block — the window
    still re-checks every pending rewrite this round, and the fresh-slot
    count shrinks only by the spill (unavoidable: a 50-slot window cannot
    check 50 fresh names plus 5+ re-checks).
    """
    if verified is None:
        verified = _driver_verified()
    if round_idx is None:
        round_idx = _round_index()
    if reverify_fresh is None:
        green = _green_rounds()
        stale = _reverify_stale()
        reverify_fresh = {
            n for n, r in stale.items()
            if n not in green and n in set(names)
        }
    if reverify_resample is None:
        reverify_resample = _reverify_resample()
    indexed = sorted(enumerate(names), key=_rotation_key(verified, reverify_fresh))
    order = [name for _, name in indexed]
    in_order = set(order)
    rr_all = [n for n in reverify_resample if n in in_order]
    rr = rr_all[:_REGRESSION_RESAMPLE]
    spill = rr_all[_REGRESSION_RESAMPLE:]
    if spill:
        # excess stale-green rewrites lead the window (ahead of fresh
        # names: their green rows are actively misleading until re-run)
        order = [n for n in order if n not in set(spill)]
        front = sum(1 for n in order[: len(reverify_fresh)] if n in reverify_fresh)
        order = order[:front] + spill + order[front:]
    hashed = [
        n
        for n in _resampled(verified, round_idx)
        if n in in_order and n not in set(rr)
    ]
    resample = rr + hashed[: max(0, _REGRESSION_RESAMPLE - len(rr))]
    if resample:
        order = [n for n in order if n not in set(resample)]
        at = min(_RESAMPLE_AT, len(order))
        order = order[:at] + resample + order[at:]
    return order


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {name: _model_query(name) for name in model_names()}
    out.update((name, q.fn) for name, q in registry.queries().items())
    return {name: out[name] for name in _rotated(list(out))}


def oracle_sql() -> dict[str, str]:
    out = {name: oracle_for(name) for name in model_names()}
    out.update((name, q.oracle) for name, q in registry.queries().items())
    # the same names in the same order as queries(), so both rotate alike
    return {name: out[name] for name in _rotated(list(out))}
