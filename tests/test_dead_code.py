"""Every top-level definition in the package has a caller outside tests/,
every defaulted parameter of a top-level package function is passed by
some call, every module-level import in the package is used, no run of
code lines is written twice outside the query modules, and no module but
``cache.py`` reaches for the system temp dir.

The scans are static and use no Spark: they parse every non-test Python
file (the package, ``bench.py``, ``__spark_entry__.py``, ``tools/`` and
``perfbench/``); the parameter scan also counts the calls in ``tests/``.  Names are resolved to package-qualified names through
imports: ``from .x import f [as g]`` makes ``g`` name ``x.f``; ``from .
import x`` (or an absolute ``ufc_data_warehouse_spark`` import) makes
``x.f`` name ``x.f``; a bare ``f`` in a package module names that module's
own ``f``.  Strings and comments do not count.  A top-level ``def``/
``class`` of the package is live when it is named by module-level code, by
a file outside the package, or by the body of another live definition.
Registry models (the ``@model`` functions) are reached through
``REGISTRY`` and count as live, as do the few public entry points in
``_KEPT``.
"""

import ast
import io
import tokenize
from collections import defaultdict
from pathlib import Path

from ufc_data_warehouse_spark.registry import QUERY_MODULES

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
    "registry.write_jdbc":
        "the reference's Postgres load target (dlt/load.py:55-59)",
}


def _sources():
    files = list(PKG.rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += list((ROOT / "tools").rglob("*.py"))
    files += [p for p in (ROOT / "perfbench").rglob("*.py")
              if ".data" not in p.relative_to(ROOT / "perfbench").parts]
    return files


def _module(path):
    """Package-relative dotted name of ``path`` (``operators.graph``; a
    package's ``__init__`` is the package itself), or None outside it."""
    if not path.is_relative_to(PKG):
        return None
    parts = path.relative_to(PKG).with_suffix("").parts
    return ".".join(p for p in parts if p != "__init__")


def _join(*parts):
    return ".".join(p for p in parts if p)


def _aliases(tree, path):
    """{local name: package-qualified targets} for every import of the
    package anywhere in the file (function-local imports included)."""
    inside = path.is_relative_to(PKG)
    package = path.parent.relative_to(PKG).parts if inside else ()
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                top, _, rest = a.name.partition(".")
                if top == PKG.name:
                    local = a.asname or top
                    out.setdefault(local, set()).add(rest if a.asname else "")
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if not inside:
                    continue
                base = _join(*package[:len(package) - node.level + 1],
                             node.module or "")
            elif (node.module or "").split(".")[0] == PKG.name:
                base = node.module.partition(".")[2]
            else:
                continue
            for a in node.names:
                out.setdefault(a.asname or a.name, set()).add(
                    _join(base, a.name))
    return out


def _chain(node):
    """``a.b.c`` → ("a", ["b", "c"]), or None when the base is no Name."""
    attrs = []
    while isinstance(node, ast.Attribute):
        attrs.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        return node.id, attrs[::-1]
    return None


def _names(node, aliases, mod):
    """Package-qualified names that ``node`` refers to."""
    for n in ast.walk(node):
        if not isinstance(n, (ast.Name, ast.Attribute)):
            continue
        chain = _chain(n)
        if chain is None:
            continue
        base, attrs = chain
        if base in aliases:
            for target in aliases[base]:
                yield _join(target, *attrs)
        elif mod is not None and isinstance(n, ast.Name):
            yield _join(mod, base)


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _is_model(node):
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if (isinstance(f, ast.Name) and f.id == "model") or (
                isinstance(f, ast.Attribute) and f.attr == "model"):
            return True
    return False


def _scan():
    """Return ({qualified name: qualified names its body names} for the
    package definitions, qualified names named by everything else)."""
    defs, named = {}, set()
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        mod = _module(path)
        aliases = _aliases(tree, path)
        for stmt in tree.body:
            names = set(_names(stmt, aliases, mod))
            if mod is not None and isinstance(stmt, _DEFS) and not _is_model(stmt):
                defs[_join(mod, stmt.name)] = names
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
        for q in [q for q in pending if q in named]:
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


# Defaulted parameters no call passes, each kept for a stated reason.
_SETTABLE = {
    "exprs.image_slug_url(base=)":
        "an address: a deployment setting stays configurable",
}


def _defaulted(fn):
    """``[(position or None for keyword-only, name)]`` of ``fn``'s
    parameters that carry a default."""
    pos = fn.args.posonlyargs + fn.args.args
    out = list(enumerate(a.arg for a in pos))[len(pos) - len(fn.args.defaults):]
    return out + [(None, a.arg) for a, d in
                  zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None]


def _callee(node, aliases, mod):
    """Package-qualified names the callee expression ``node`` names: an
    aliased chain, or a bare name of the calling package module."""
    chain = _chain(node)
    if chain is None:
        return set()
    base, attrs = chain
    if base in aliases:
        return {_join(t, *attrs) for t in aliases[base]}
    return {_join(mod, base)} if mod is not None and not attrs else set()


def _unset_parameters():
    """``module.function(name=)`` for each defaulted parameter of a
    top-level package function that no call passes, by keyword or by
    position. Calls count in every scanned file and in tests/ (tests set
    bucket counts and round limits that small data cannot reach with the
    defaults). A call with ``*args`` or ``**kwargs`` passes everything; a
    function named other than as a callee (stored, passed as a value,
    wrapped) is skipped, since its calls cannot be seen."""
    funcs = {}
    for path in PKG.rglob("*.py"):
        for stmt in ast.parse(path.read_text(), filename=str(path)).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                funcs[_join(_module(path), stmt.name)] = stmt
    passed, escaped = defaultdict(set), set()
    for path in _sources() + sorted((ROOT / "tests").rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        mod, aliases = _module(path), _aliases(tree, path)
        callees = set()
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            callees.add(id(n.func))
            for q in _callee(n.func, aliases, mod) & funcs.keys():
                if (any(isinstance(a, ast.Starred) for a in n.args)
                        or any(k.arg is None for k in n.keywords)):
                    passed[q].add("*")
                passed[q].update(range(len(n.args)))
                passed[q].update(k.arg for k in n.keywords)
        for n in ast.walk(tree):
            if isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in callees:
                escaped |= _callee(n, aliases, mod) & funcs.keys()
    return sorted(
        f"{q}({name}=)"
        for q, fn in funcs.items()
        if q not in escaped and not fn.decorator_list and "*" not in passed[q]
        for i, name in _defaulted(fn)
        if name not in passed[q] and i not in passed[q])


def test_every_defaulted_parameter_is_passed_somewhere():
    """A default no call overrides is a constant spelled as an option:
    inline it and delete the paths only other values reach."""
    unset = _unset_parameters()
    stale = sorted(set(_SETTABLE) - set(unset))
    unset = [p for p in unset if p not in _SETTABLE]
    assert not unset, (
        f"{len(unset)} defaulted parameters that no call passes; make "
        f"each a constant:\n  " + "\n  ".join(unset))
    assert not stale, f"_SETTABLE entries some call now passes: {stale}"


def _annotations(tree):
    """String annotations parsed as expressions: pandas UDF type hints
    such as ``"Iterator[pd.DataFrame]"`` are evaluated at run time against
    the module's globals, so the names in them are uses."""
    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            args = n.args.posonlyargs + n.args.args + n.args.kwonlyargs
            for ann in [a.annotation for a in args] + [n.returns]:
                if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
                    yield ast.parse(ann.value, mode="eval")


def _unused_imports(path):
    """``path:line name`` for each module-level import the module never
    names; ``__future__``, ``noqa: F401`` lines and ``__all__`` are exempt."""
    src = path.read_text()
    tree = ast.parse(src, filename=str(path))
    lines = src.splitlines()
    used = {n.id for t in [tree, *_annotations(tree)] for n in ast.walk(t)
            if isinstance(n, ast.Name)}
    for stmt in tree.body:
        if (isinstance(stmt, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__"
                        for t in stmt.targets)):
            used |= set(ast.literal_eval(stmt.value))
    for stmt in tree.body:
        if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
            continue
        if "noqa: F401" in lines[stmt.lineno - 1]:
            continue
        for a in stmt.names:
            name = a.asname or a.name.partition(".")[0]
            if name not in used:
                yield f"{path.relative_to(PKG)}:{stmt.lineno} {name}"


def test_package_modules_use_every_import():
    unused = [u for p in sorted(PKG.rglob("*.py")) for u in _unused_imports(p)]
    assert not unused, (
        "module-level imports the module never names:\n  " + "\n  ".join(unused))


# Tokens that carry no code: a copy that differs only in them is a copy.
_NOT_CODE = {tokenize.COMMENT, tokenize.STRING, tokenize.NL, tokenize.NEWLINE,
             tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER}
_COPY_LINES = 8


def _code_lines(path):
    """``[(line number, normalized text)]`` of ``path``: comments, string
    literals and indentation dropped, tokens joined by one space, and
    lines left with no name or number (blank lines, bare brackets, SQL
    text) skipped."""
    by_line = defaultdict(list)
    for tok in tokenize.generate_tokens(io.StringIO(path.read_text()).readline):
        if tok.type not in _NOT_CODE:
            by_line[tok.start[0]].append(tok)
    return [(n, " ".join(t.string for t in toks))
            for n, toks in sorted(by_line.items())
            if any(t.type in (tokenize.NAME, tokenize.NUMBER) for t in toks)]


def test_no_copied_blocks_outside_query_modules():
    """A run of ``_COPY_LINES`` normalized code lines written twice is an
    operator step with two bodies: give it one helper both call. A run
    that only the query modules repeat is exempt — folding a copy there
    moves the query's fingerprint — but a query module may not repeat a
    run of any other module: that is an operator body pasted into a
    query."""
    seen = defaultdict(list)
    for path in sorted(PKG.rglob("*.py")):
        lines = _code_lines(path)
        for i in range(len(lines) - _COPY_LINES + 1):
            run = tuple(text for _, text in lines[i:i + _COPY_LINES])
            seen[run].append((path.stem in QUERY_MODULES,
                              f"{path.relative_to(PKG)}:{lines[i][0]}"))
    copies = sorted({tuple(a for _, a in at) for at in seen.values()
                     if len(at) > 1 and not all(q for q, _ in at)})
    modules = sorted({a.partition(":")[0] for at in copies for a in at})
    assert not copies, (
        f"runs of {_COPY_LINES} code lines written more than once, in "
        f"{modules}:\n  " + "\n  ".join(" = ".join(at) for at in copies))


_TEMP_CALLS = {"mkdtemp", "gettempdir"}


def _temp_uses(path):
    """``path:line`` for each ``tempfile`` import and each ``mkdtemp``/
    ``gettempdir`` call in ``path``."""
    for n in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(n, ast.Import):
            hit = any(a.name.partition(".")[0] == "tempfile" for a in n.names)
        elif isinstance(n, ast.ImportFrom):
            hit = (n.module or "").partition(".")[0] == "tempfile"
        elif isinstance(n, ast.Call):
            f = n.func
            hit = (f.id if isinstance(f, ast.Name) else
                   getattr(f, "attr", None)) in _TEMP_CALLS
        else:
            continue
        if hit:
            yield f"{path.relative_to(PKG)}:{n.lineno}"


def test_scratch_dirs_come_from_cache():
    """Scratch dirs have one owner: ``cache.scratch`` makes them under the
    session root that ``cache.release`` and ``spark.stop()`` remove. A
    directory from the system temp dir outlives both, so no module but
    ``cache.py`` may reach for ``tempfile``."""
    uses = [u for p in sorted(PKG.rglob("*.py")) if p != PKG / "cache.py"
            for u in _temp_uses(p)]
    assert not uses, (
        "system temp dirs outside cache.py (use cache.scratch):\n  "
        + "\n  ".join(uses))
