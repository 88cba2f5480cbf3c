"""Unit tests for the driver-contract rotation in __spark_entry__.py.

No SparkSession needed — these exercise the pure ordering logic against
synthetic CORRECTNESS files (VERDICT r2 task 6 / ADVICE medium).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry


def _write_correctness(tmp_path, name, rows):
    path = tmp_path / name
    path.write_text(json.dumps(rows))
    return str(tmp_path)


def test_driver_verified_requires_hash_match_true(tmp_path):
    directory = _write_correctness(
        tmp_path,
        "CORRECTNESS_r01.json",
        {
            "q_green": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": True,
                "err": None,
            },
            # missing hash_match (driver-format change) must NOT count
            "q_no_hash": {"rows_match": True, "schema_match": True, "err": None},
            "q_null_hash": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": None,
                "err": None,
            },
            "q_hash_fail": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": False,
                "err": None,
            },
            "q_err": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": True,
                "err": "boom",
            },
            "q_rows_none": {
                "rows_match": None,
                "schema_match": True,
                "hash_match": True,
                "err": None,
            },
        },
    )
    assert entry._driver_verified(directory) == {"q_green"}


def test_driver_verified_merges_rounds_and_survives_bad_json(tmp_path):
    _write_correctness(
        tmp_path,
        "CORRECTNESS_r01.json",
        {
            "a": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": True,
                "err": None,
            }
        },
    )
    directory = _write_correctness(
        tmp_path,
        "CORRECTNESS_r02.json",
        {
            "b": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": True,
                "err": None,
            }
        },
    )
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")
    assert entry._driver_verified(directory) == {"a", "b"}


def test_resample_is_deterministic_and_rotates_with_round():
    verified = {f"q{i}" for i in range(20)}
    r3 = entry._resampled(verified, 3)
    assert r3 == entry._resampled(verified, 3)
    assert len(r3) == entry._REGRESSION_RESAMPLE
    assert set(r3) <= verified
    # a different round index picks a (very likely) different sample
    assert r3 != entry._resampled(verified, 4)


def test_rotation_window_prioritizes_target_families_synthetic():
    """Structural invariants of _rotated() on SYNTHETIC inputs only.

    The previous version of this test asserted the composition of the
    *live* window computed from the repo's committed CORRECTNESS_r*.json
    files, so it went stale the moment the driver committed a new round's
    artifacts (VERDICT r3 task 1). This version injects a synthetic
    verified set and round index, so it is green on any checkout.
    """
    prio = [f"ann_q{i}" for i in range(20)] + [f"dedup_q{i}" for i in range(20)]
    named = ["dq_orders_checks", "cdc_user_state"]
    other = [f"tpch_x{i}" for i in range(30)]
    done = [f"old_q{i}" for i in range(40)]
    names = done + other + prio + named  # deliberately scrambled input order
    verified = set(done)
    order = entry._rotated(names, verified=verified, round_idx=7)

    window = order[:50]
    fresh = [n for n in window if n not in verified]
    resampled = [n for n in window if n in verified]
    # exactly the regression re-sample's worth of verified names in-window
    assert len(resampled) == entry._REGRESSION_RESAMPLE
    # all fresh priority-family names sort ahead of generic fresh names
    family = [
        n
        for n in fresh
        if n.startswith(tuple(entry._ROTATION_PRIORITY))
        or n in entry._ROTATION_NAMES
    ]
    assert len(family) == len(prio) + len(named)
    # everything after the last unverified name is previously-verified
    tail_start = next(
        i for i in range(len(order) - 1, -1, -1) if order[i] not in verified
    )
    assert all(n in verified for n in order[tail_start + 1 :])
    # same inputs -> same order (determinism), different round -> resample moves
    assert order == entry._rotated(names, verified=verified, round_idx=7)
    assert order != entry._rotated(names, verified=verified, round_idx=8)


def test_rotation_survives_future_driver_commits(tmp_path, monkeypatch):
    """Simulate the driver committing a NEW CORRECTNESS_r04.json: the
    live queries()/oracle_sql() ordering must still satisfy the driver
    contract (same keys, oracle order mirrors queries order)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import glob
    import shutil

    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path / os.path.basename(path))
    # a fake future round verifying a handful of currently-live names
    sample = list(entry.queries())[:5]
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps(
            {
                n: {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": True,
                    "err": None,
                }
                for n in sample
            }
        )
    )
    real_verified = entry._driver_verified
    monkeypatch.setattr(
        entry, "_driver_verified", lambda d=None: real_verified(str(tmp_path))
    )
    monkeypatch.setattr(entry, "_round_index", lambda: 99)
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(q) <= set(o)
    # oracle iteration order mirrors queries() for the shared prefix
    shared = [n for n in o if n in q]
    assert shared == list(q)
    # the fake-verified names rotated out of the fresh prefix
    verified_now = entry._driver_verified()
    window_fresh = [n for n in list(q)[:50] if n not in verified_now]
    assert all(n not in sample for n in window_fresh)


def test_reverify_stale_round_gates_driver_verified(tmp_path):
    """A green row from a round < the REVERIFY rewrite round certifies
    pre-rewrite code and must NOT count as verified; a green row from the
    rewrite round itself or newer clears the entry — the round-N gate
    runs at round N's final HEAD (VERDICT r5 task 2, r6 nit 3)."""
    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "err": None,
    }
    (tmp_path / "CORRECTNESS_r04.json").write_text(json.dumps({"q_old": green}))
    (tmp_path / "CORRECTNESS_r05.json").write_text(json.dumps({"q_same": green}))
    (tmp_path / "CORRECTNESS_r06.json").write_text(
        json.dumps({"q_fresh": green})
    )
    (tmp_path / "REVERIFY.txt").write_text(
        "# comment line\n"
        "q_old 5\n"          # green r04 < rewrite 5 -> unverified
        "q_same 5\n"         # green r05 >= rewrite 5 -> verified (gate ran at final HEAD)
        "q_fresh r5\n"       # green r06 >= rewrite 5 -> verified (r-prefix ok)
        "q_never 5\n"        # never green -> stays unverified (fast lane)
        "malformed-line\n"
    )
    directory = str(tmp_path)
    assert entry._driver_verified(directory) == {"q_same", "q_fresh"}
    assert entry._reverify_stale(directory) == {
        "q_old": 5,
        "q_same": 5,
        "q_fresh": 5,
        "q_never": 5,
    }
    # previously-green-but-stale names get first claim on resample slots
    assert entry._reverify_resample(directory) == ["q_old"]


def test_rotated_places_reverify_names_inside_window():
    """Never-green rewritten names lead the window; previously-green
    rewritten names take the leading resample slots, so the fresh-slot
    count of the window is preserved."""
    names = [f"tpch_x{i}" for i in range(60)] + [
        "rewritten_never_green",
        "rewritten_was_green",
    ] + [f"old_q{i}" for i in range(40)]
    verified = {f"old_q{i}" for i in range(40)}
    order = entry._rotated(
        names,
        verified=verified,
        round_idx=6,
        reverify_fresh={"rewritten_never_green"},
        reverify_resample=["rewritten_was_green"],
    )
    window = order[:50]
    assert window[0] == "rewritten_never_green"
    # the stale-green name sits at the head of the resample block
    assert order[entry._RESAMPLE_AT] == "rewritten_was_green"
    assert "rewritten_was_green" in window
    # resample block stays _REGRESSION_RESAMPLE wide: stale-green first,
    # hash-sampled verified names fill the rest
    block = order[entry._RESAMPLE_AT : entry._RESAMPLE_AT + entry._REGRESSION_RESAMPLE]
    assert block[0] == "rewritten_was_green"
    assert all(n in verified for n in block[1:])
    # fresh slots: window minus the resample block is all unverified
    fresh = [n for n in window if n not in verified and n != "rewritten_was_green"]
    assert len(fresh) == 50 - entry._REGRESSION_RESAMPLE


def test_rotated_caps_resample_block_and_spills_to_front():
    """r6 ADVICE 1: more pending stale-green rewrites than resample slots
    must NOT grow the block past _REGRESSION_RESAMPLE — the excess leads
    the window instead (right after never-green rewrites), so every
    pending rewrite is still re-checked this round."""
    stale_green = [f"rw_green_{i}" for i in range(6)]  # 6 > 4 slots
    names = (
        [f"tpch_x{i}" for i in range(60)]
        + ["rw_never_green"]
        + stale_green
        + [f"old_q{i}" for i in range(40)]
    )
    verified = {f"old_q{i}" for i in range(40)} | set(stale_green)
    order = entry._rotated(
        names,
        verified=verified,
        round_idx=7,
        reverify_fresh={"rw_never_green"},
        reverify_resample=stale_green,
    )
    window = order[:50]
    # never-green rewrite first, then the two spilled stale-greens
    assert window[0] == "rw_never_green"
    assert window[1:3] == stale_green[4:]
    # block is exactly _REGRESSION_RESAMPLE wide: the first 4 stale-greens
    block = order[entry._RESAMPLE_AT : entry._RESAMPLE_AT + entry._REGRESSION_RESAMPLE]
    assert block == stale_green[:4]
    # nothing verified leaks into the window beyond block + spill
    in_window_verified = [n for n in window if n in verified]
    assert sorted(in_window_verified) == sorted(stale_green)
    # all 6 pending rewrites are inside the window
    assert set(stale_green) <= set(window)


def test_reverify_txt_round_lint():
    """VERDICT r6 task 3 lint: every REVERIFY.txt entry's round must be
    <= the current round index and equal the rN of the nearest preceding
    '# rN ...' comment block, so the recorded round is the actual
    rewrite round and the file's convention self-heals."""
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "REVERIFY.txt")
    current_round = entry._round_index()
    block_round = None
    bad = []
    with open(path) as fh:
        for lineno, raw in enumerate(fh, 1):
            line = raw.strip()
            if line.startswith("#"):
                m = re.search(r"#\s*r(\d+)\b", line)
                if m:
                    block_round = int(m.group(1))
                continue
            if not line:
                continue
            parts = line.split()
            assert len(parts) == 2 and parts[1].lstrip("r").isdigit(), (
                f"REVERIFY.txt:{lineno} malformed entry: {line!r}"
            )
            rnd = int(parts[1].lstrip("r"))
            if rnd > current_round:
                bad.append(f"line {lineno}: round {rnd} > current {current_round}")
            if block_round is not None and rnd != block_round:
                bad.append(
                    f"line {lineno}: round {rnd} != comment block r{block_round}"
                )
    assert not bad, "REVERIFY.txt round lint failures: " + "; ".join(bad)


def test_reverify_txt_names_are_registered():
    """A typo'd REVERIFY.txt name would silently re-verify nothing —
    every entry must be a live queries() name."""
    stale = entry._reverify_stale()
    unknown = set(stale) - set(entry.queries())
    assert not unknown, f"REVERIFY.txt names not in queries(): {sorted(unknown)}"


def test_no_driver_verified_query_has_changed_implementation():
    """Mechanical backstop for the rewrite-aware rotation (VERDICT r5
    task 2): if a query's implementation fingerprint differs from the
    committed QUERY_FPS.json snapshot while the rotation still counts it
    driver-verified, the driver's green row certifies code that no
    longer exists. Fix: append the name to REVERIFY.txt (re-enters the
    window), then `python tools/reverify_check.py --refresh`."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from reverify_check import SNAPSHOT, compute_fps

    with open(SNAPSHOT) as fh:
        prior = json.load(fh)["fps"]
    current = compute_fps()
    verified = entry._driver_verified()
    stale_verified = sorted(
        n for n in current
        if n in prior and prior[n] != current[n] and n in verified
    )
    assert not stale_verified, (
        "rewritten but still rotation-verified (append to REVERIFY.txt + "
        f"refresh QUERY_FPS.json): {stale_verified}"
    )


def test_fingerprint_refuses_source_edited_since_import(tmp_path, monkeypatch):
    """``inspect.getsource`` reads today's file at import-time line
    numbers: after a line is inserted above a function, it returns the
    function above it. The fingerprint must refuse, not hash that text."""
    import importlib

    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from reverify_check import _fn_fingerprint

    mod = tmp_path / "fp_edited_mod.py"
    mod.write_text("def first():\n    return 1\n\n\ndef second():\n    return 2\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    m = importlib.import_module("fp_edited_mod")
    try:
        assert "def second" in _fn_fingerprint(m.second)
        mod.write_text("X = 0\n" + mod.read_text())
        with pytest.raises(RuntimeError, match="re-run in a fresh process"):
            _fn_fingerprint(m.second)
    finally:
        sys.modules.pop("fp_edited_mod", None)
