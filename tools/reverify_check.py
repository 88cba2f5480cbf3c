"""Mechanical backstop for the REVERIFY.txt discipline (VERDICT r5 task 2).

The rotation treats a query as driver-verified forever once a green
CORRECTNESS row lands — unless REVERIFY.txt marks it rewritten. That
marking is a builder action, so this tool makes forgetting it loud:
it fingerprints every query's implementation (function source + oracle
SQL + sanitized closure cells, so spec-driven factory queries like the
metabase cards change fingerprint when their spec changes) and compares
against the committed QUERY_FPS.json snapshot.

A name whose fingerprint changed while `__spark_entry__._driver_verified`
still counts it verified is exactly the staleness bug the r5 verdict
found (window_distribution: green r04, rewritten r5, never re-checked):
the tool exits 1 and names it, with the REVERIFY line to append.

Limitations (documented, not hidden): a behavioral change inside a
SHARED helper (exprs.py, operators/*) does not change the caller's
fingerprint — helper rewrites still need builder judgment (they
typically touch dozens of queries at once, which REVERIFY cannot
express; the oracle sweeps cover those). Pure docstring edits DO change
the fingerprint — over-flagging is the safe direction here, and
--refresh clears it consciously.

Usage:
    python tools/reverify_check.py           # check against snapshot
    python tools/reverify_check.py --refresh # also rewrite QUERY_FPS.json
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SNAPSHOT = os.path.join(REPO, "QUERY_FPS.json")
_ADDR = re.compile(r" at 0x[0-9a-fA-F]+")


def _cell_repr(value, depth: int = 0) -> str:
    """Deterministic repr of a closure cell: functions collapse to their
    source, memory addresses are stripped, containers recurse shallowly."""
    if depth > 2:
        return "<deep>"
    if callable(value):
        try:
            return inspect.getsource(value)
        except (OSError, TypeError):
            return _ADDR.sub("", repr(value))
    if isinstance(value, dict):
        return (
            "{"
            + ",".join(
                f"{k!r}:{_cell_repr(v, depth + 1)}"
                for k, v in sorted(value.items(), key=lambda kv: repr(kv[0]))
            )
            + "}"
        )
    if isinstance(value, (list, tuple, set, frozenset)):
        items = sorted(map(repr, value)) if isinstance(value, (set, frozenset)) else [
            _cell_repr(v, depth + 1) for v in value
        ]
        return "[" + ",".join(items) + "]"
    return _ADDR.sub("", repr(value))


_DEF = re.compile(r"\s*(?:async\s+)?def\s+(\w+)")


def _fn_fingerprint(fn) -> str:
    parts = []
    try:
        source = inspect.getsource(fn)
    except (OSError, TypeError):
        parts.append(_ADDR.sub("", repr(fn)))
    else:
        # getsource reads the file as it is now at the line numbers of the
        # code loaded at import: after an edit above ``fn`` it returns
        # another function's text. ``co_name`` survives a ``__name__``
        # rename (the metabase cards rename their ``run``).
        defs = (_DEF.match(line) for line in source.splitlines())
        first = next((m.group(1) for m in defs if m), None)
        name = getattr(getattr(fn, "__code__", None), "co_name", None)
        if name not in (None, "<lambda>") and first != name:
            raise RuntimeError(
                f"source of {name} changed since import (its lines now hold "
                f"{first!r}); re-run in a fresh process"
            )
        parts.append(source)
    closure = getattr(fn, "__closure__", None)
    if closure:
        for cell in closure:
            try:
                parts.append(_cell_repr(cell.cell_contents))
            except ValueError:  # empty cell
                parts.append("<empty>")
    return "\n".join(parts)


def compute_fps() -> dict[str, str]:
    import __spark_entry__ as entry
    from ufc_data_warehouse_spark.registry import REGISTRY, queries

    oracles = entry.oracle_sql()
    registered = queries()
    fps: dict[str, str] = {}
    for name in entry.queries():
        if name in REGISTRY.models:
            body = _fn_fingerprint(REGISTRY.models[name].fn)
        else:
            body = _fn_fingerprint(registered[name].fn)
        body += "\n-- oracle --\n" + oracles.get(name, "<no oracle>")
        fps[name] = hashlib.md5(body.encode()).hexdigest()
    return fps


def main() -> None:
    refresh = "--refresh" in sys.argv
    import __spark_entry__ as entry

    current = compute_fps()
    prior: dict[str, str] = {}
    if os.path.exists(SNAPSHOT):
        with open(SNAPSHOT) as fh:
            prior = json.load(fh).get("fps", {})

    verified = entry._driver_verified()
    changed = sorted(
        n for n in current if n in prior and prior[n] != current[n]
    )
    new = sorted(n for n in current if n not in prior)
    stale_verified = [n for n in changed if n in verified]

    for n in changed:
        status = (
            "STALE-VERIFIED" if n in stale_verified
            else ("reverify-pending" if n in entry._reverify_stale() else "unverified")
        )
        print(f"CHANGED {n} [{status}]")
    for n in new:
        print(f"NEW     {n}")
    if stale_verified:
        # the ACTUAL rewrite round = the round being built right now; the
        # current round's gate (final HEAD) certifies the new code, so
        # _reverify_stale's strict `<` keeps a same-round green fresh
        rnd = entry._round_index()
        print(
            f"\nACTION REQUIRED: {len(stale_verified)} rewritten quer"
            f"{'y is' if len(stale_verified) == 1 else 'ies are'} still "
            "driver-verified from pre-rewrite rounds. Append to REVERIFY.txt:"
        )
        for n in stale_verified:
            print(f"  {n} {rnd}")
    never_green = sorted(
        n for n in new if n not in entry._green_rounds()
    )
    if never_green:
        rnd = entry._round_index()
        print(
            f"\nFAST LANE (VERDICT r6 task 2): {len(never_green)} brand-new "
            "never-driver-checked name(s) — list in REVERIFY.txt so they "
            "front-load this round's window:"
        )
        for n in never_green:
            print(f"  {n} {rnd}")
    if refresh:
        with open(SNAPSHOT, "w") as fh:
            json.dump(
                {
                    "what": (
                        "per-query implementation fingerprints "
                        "(tools/reverify_check.py) — refresh alongside "
                        "REVERIFY.txt when rewriting driver-green queries"
                    ),
                    "fps": current,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"\nrefreshed {SNAPSHOT} ({len(current)} names)")
    print(
        f"\nTOTAL changed={len(changed)} new={len(new)} "
        f"stale_verified={len(stale_verified)}"
    )
    sys.exit(1 if stale_verified else 0)


if __name__ == "__main__":
    main()
