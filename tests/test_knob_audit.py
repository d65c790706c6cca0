"""Every defaulted parameter of a public package function has a caller.

A default that no call site overrides is a configuration no test and no
workload covers; it belongs in the function body as a constant. This
audit reads the source with ``ast`` only (nothing is imported or run):
it collects the defaulted parameters of the package's public top-level
functions, then marks one as set when some call site, matched by the
called name, passes it by position or by keyword. A ``*args`` or
``**kwargs`` at a call site sets nothing it does not name.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "concept_hierarchy_formation_in_property_graphs_spark"
CALLER_DIRS = (PKG, "jobs", "tools", "tests", "bench.py", "__spark_entry__.py", "perfbench")


def _sources(names):
    for name in names:
        path = ROOT / name
        yield from [path] if path.is_file() else sorted(path.rglob("*.py"))


def _defaulted_params() -> dict[tuple[str, str, str], list[str]]:
    """(module, function, parameter) -> the function's positional
    parameter names."""
    out = {}
    for path in _sources([PKG]):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            a = node.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            names = positional[len(positional) - len(a.defaults):]
            names += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for name in names:
                out[(path.stem, node.name, name)] = positional
    return out


def _set_params(defaulted) -> set[tuple[str, str, str]]:
    by_fn: dict[str, list[tuple[str, str, list[str]]]] = {}
    for (mod, fn, param), positional in defaulted.items():
        by_fn.setdefault(fn, []).append((mod, param, positional))
    seen = set()
    for path in _sources(CALLER_DIRS):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            fn = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            keywords = {k.arg for k in node.keywords}
            n_args = sum(not isinstance(x, ast.Starred) for x in node.args)
            for mod, param, positional in by_fn.get(fn, ()):
                by_position = param in positional and positional.index(param) < n_args
                if param in keywords or by_position:
                    seen.add((mod, fn, param))
    return seen


def test_every_defaulted_parameter_is_set_by_some_call_site():
    defaulted = _defaulted_params()
    never_set = set(defaulted) - _set_params(defaulted)
    # expected_triples_for is the planted-truth set of the pipeline_crawl
    # P/R gate: perfbench/README.md and perfbench/workloads.py name this
    # function, signature included, as the crawl gate's truth set.
    assert never_set == {
        ("pages", "expected_triples_for", "n_entities"),
        ("pages", "expected_triples_for", "seed"),
        ("pages", "expected_triples_for", "content_scale"),
    }
