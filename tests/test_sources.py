"""Source-level guards that need no Spark session: every top-level name in
kgpipe/ has a reader, and only the table shim touches sink files."""

from __future__ import annotations

import ast
import collections
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _python_sources() -> dict[pathlib.Path, str]:
    paths = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("kgpipe", "tests", "tools", "perfbench", "BENCH"):
        paths += (ROOT / d).rglob("*.py")
    return {p: p.read_text() for p in paths}


def _is_registered(node: ast.AST) -> bool:
    """Decorated with register(...) or atexit.register."""
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if "register" in (getattr(f, "id", None), getattr(f, "attr", None)):
            return True
    return False


def _top_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_registered(node):
                yield node.name
        elif isinstance(node, ast.Assign):
            yield from (t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node.target.id


def test_no_unread_top_level_names():
    """A top-level function, class or constant of kgpipe/ that no Python
    source in the repo names besides its own definition is dead code.
    Functions handed to a registry by a register decorator (the query
    table, atexit) are called without being named, so they are exempt."""
    sources = _python_sources()
    words = collections.Counter(
        w for text in sources.values() for w in re.findall(r"\w+", text)
    )
    dead = [
        f"{p.name}:{name}"
        for p in sorted(ROOT.glob("kgpipe/*.py"))
        for name in _top_level_names(ast.parse(sources[p]))
        if not (name.startswith("__") and name.endswith("__")) and words[name] < 2
    ]
    assert not dead, dead


def test_only_io_tables_writes_tables_or_manifests():
    """io_tables is the one module that knows the manifest file and picks a
    writer's save mode: every other module of kgpipe/ reads and writes
    stages through it, so a second sink writer cannot drift from the
    append contract."""
    offenders = [
        p.name
        for p in sorted(ROOT.glob("kgpipe/*.py"))
        if p.name != "io_tables.py" and re.search(r"_MANIFEST|\.mode\(", p.read_text())
    ]
    assert not offenders, offenders


def test_cited_bench_artifacts_exist():
    """Every BENCH/<file> that the package, the tools, README.md or
    DEPLOY.md cite as evidence is committed; a glob must match a file. A
    citation may break after `BENCH/` onto the next (comment) line."""
    texts = [p.read_text() for d in ("kgpipe", "tools") for p in (ROOT / d).rglob("*.py")]
    texts += [(ROOT / f).read_text() for f in ("README.md", "DEPLOY.md")]
    cited = {
        m for text in texts
        for m in re.findall(r"BENCH/(?:\s*#?\s*)(\w[\w*.-]*\.\w+)", text)
    }
    assert cited
    missing = sorted(c for c in cited if not list((ROOT / "BENCH").glob(c)))
    assert not missing, missing


def _defaulted_params(fn: ast.FunctionDef):
    """(name, positional index or None) of each parameter with a default;
    the index counts from the first parameter a caller passes, so a
    method's self or cls is not counted."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
    for i, arg in enumerate(pos[len(pos) - len(a.defaults):], len(pos) - len(a.defaults)):
        yield arg.arg, i - skip
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield arg.arg, None


def _passes(call: ast.Call, name: str, index) -> bool:
    if any(isinstance(x, ast.Starred) for x in call.args):
        return True
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    return index is not None and len(call.args) > index


def test_no_parameter_no_caller_sets():
    """A defaulted parameter of a kgpipe/ function that no call in the
    repo's Python sources passes, by keyword or by position, has one value
    in use: it is a constant. Calls are matched to functions by name; a
    call that spreads *args or **kwargs passes everything."""
    calls = collections.defaultdict(list)
    for text in _python_sources().values():
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.Call):
                f = node.func
                calls[getattr(f, "id", None) or getattr(f, "attr", None)].append(node)
    unset = [
        f"{p.name}:{fn.name}({name})"
        for p in sorted(ROOT.glob("kgpipe/*.py"))
        for fn in ast.walk(ast.parse(p.read_text()))
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for name, index in _defaulted_params(fn)
        if not any(_passes(c, name, index) for c in calls[fn.name])
    ]
    assert not unset, unset
