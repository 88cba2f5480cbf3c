"""Every top-level definition in the package has a caller outside tests/.

The scan is static and uses no Spark: it parses every non-test Python file
(the package, ``bench.py``, ``__spark_entry__.py``, ``tools/`` and
``perfbench/``) and collects the identifiers it names (``ast.Name``,
``ast.Attribute`` and import aliases; strings and comments do not count).
A top-level ``def``/``class`` of the package is live when it is named by
module-level code, by a file outside the package, or by the body of
another live definition.  Registry models (the ``@model`` functions) are
reached through ``REGISTRY`` and count as live, as do the few public
entry points in ``_KEPT``.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "ufc_data_warehouse_spark"

# Public entry points with no in-repo caller, each kept for a stated reason.
_KEPT = {
    "operators.multimodal.check_decode_conformance":
        "contract check that callers run on their own decoder",
    "sources.ingest.corrupt_record_count":
        "counts quarantined malformed input rows",
    "operators.scale.scan_budget_guard": "opt-in cost guard",
    "sources.vacancies.scrape_vacancies":
        "end-to-end entry of the reference's scraper (SURVEY S5)",
    "api.register_views": "public SQL-serving API",
}


def _sources():
    files = list(PKG.rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += list((ROOT / "tools").rglob("*.py"))
    files += [p for p in (ROOT / "perfbench").rglob("*.py")
              if ".data" not in p.relative_to(ROOT / "perfbench").parts]
    return files


def _names(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield from n.name.split(".")
            if n.asname:
                yield n.asname


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _is_model(node):
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if (isinstance(f, ast.Name) and f.id == "model") or (
                isinstance(f, ast.Attribute) and f.attr == "model"):
            return True
    return False


def _scan():
    """Return ({qualified name: identifiers its body names} for the package
    definitions, identifiers named by everything else)."""
    defs, named = {}, set()
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        mod = (".".join(path.relative_to(PKG).with_suffix("").parts)
               if path.is_relative_to(PKG) else None)
        for stmt in tree.body:
            names = set(_names(stmt))
            if mod and isinstance(stmt, _DEFS) and not _is_model(stmt):
                defs[f"{mod}.{stmt.name}"] = names
            else:
                named |= names
    return defs, named


def _unreached(defs, named):
    """Definitions not reached from module-level code, the non-package files,
    the models or ``_KEPT``: a helper that only dead code calls is dead too."""
    pending = dict(defs)
    for q in _KEPT:
        named |= pending.pop(q, set())
    grew = True
    while grew:
        grew = False
        for q in [q for q in pending if q.rsplit(".", 1)[1] in named]:
            named |= pending.pop(q)
            grew = True
    return sorted(pending)


def test_every_package_definition_has_a_non_test_caller():
    dead = _unreached(*_scan())
    assert not dead, (
        f"{len(dead)} package definitions are reached only from tests (or "
        f"nothing); delete them or give them a caller:\n  " + "\n  ".join(dead))


def test_kept_names_still_exist():
    defs, _ = _scan()
    missing = sorted(set(_KEPT) - set(defs))
    assert not missing, f"_KEPT names with no definition: {missing}"
