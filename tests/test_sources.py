"""Source-level guards that need no Spark session: every top-level name in
kgpipe/ has a reader, and the kept benchmark harnesses still import and
build their child scripts against today's API."""

from __future__ import annotations

import ast
import collections
import importlib.util
import pathlib
import re
import subprocess

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


def _load_harness(name: str):
    spec = importlib.util.spec_from_file_location(
        f"harness_{name}", ROOT / "BENCH" / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_harnesses_import_and_scaling_child_compiles(monkeypatch):
    """The BENCH/ harnesses run only by hand, so nothing else notices when
    they drift from the code they drive. Import each without running it,
    and build run_scaling's child script through run_level for every
    mode/resources pair: it must compile, and every pipeline/schemas
    attribute it uses must exist."""
    from kgpipe import pipeline, schemas

    _load_harness("membw_probe")
    _load_harness("oracle_baseline")
    run_scaling = _load_harness("run_scaling")

    scripts = []

    def fake_run(argv, **kwargs):
        scripts.append(argv[-1])
        return subprocess.CompletedProcess(argv, 0, 'RESULT {"cores": 1}\n', "")

    monkeypatch.setattr(run_scaling.subprocess, "run", fake_run)
    modules = {"pipeline": pipeline, "schemas": schemas}
    for checkpoints in (True, False):
        for resources in ("scaled", "flat"):
            assert run_scaling.run_level(
                1, "/corpus", 1, checkpoints, resources, "/warm"
            ) == {"cores": 1}
            tree = ast.parse(scripts[-1])
            compile(tree, "run_scaling child", "exec")
            missing = [
                f"{n.value.id}.{n.attr}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Attribute)
                and isinstance(n.value, ast.Name)
                and n.value.id in modules
                and not hasattr(modules[n.value.id], n.attr)
            ]
            assert not missing, missing
