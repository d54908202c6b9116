"""The benchmark harness (``perfbench/``) and the scripts in ``tools/``
call engine APIs by name. Parse them with ``ast`` (nothing is run or
edited) and check that every ``aidc_2018_timeseries_spark`` name they
import, every ``alias.name`` attribute they read off an imported engine
module, and every keyword they pass to an engine function still resolves
in the package. Deleting an API that a traced benchmark prefix still
calls then fails here instead of in the benchmark run."""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = "aidc_2018_timeseries_spark"
SCRIPTS = sorted([*ROOT.glob("perfbench/*.py"), *ROOT.glob("tools/*.py")])


def _resolve(module: str, name: str | None = None):
    obj = importlib.import_module(module)
    if name is None:
        return obj
    if hasattr(obj, name):
        return getattr(obj, name)
    return importlib.import_module(f"{module}.{name}")


def _engine_bindings(tree: ast.AST) -> tuple[dict[str, set[str]], dict[str, object], list[str]]:
    """(module aliases, imported objects, unresolved imports) of one file.
    An alias may be bound to several modules in different scopes."""
    modules: dict[str, set[str]] = {}
    objects: dict[str, object] = {}
    missing: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if not a.name.startswith(PKG):
                    continue
                try:
                    _resolve(a.name)
                except ImportError as exc:
                    missing.append(f"import {a.name}: {exc}")
                    continue
                if a.asname:
                    modules.setdefault(a.asname, set()).add(a.name)
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            for a in node.names:
                try:
                    obj = _resolve(node.module, a.name)
                except (ImportError, AttributeError) as exc:
                    missing.append(f"from {node.module} import {a.name}: {exc}")
                    continue
                bound = a.asname or a.name
                if inspect.ismodule(obj):
                    modules.setdefault(bound, set()).add(obj.__name__)
                else:
                    objects[bound] = obj
    return modules, objects, missing


def _bad_keywords(fn, call: ast.Call) -> list[str]:
    try:
        params = inspect.signature(fn).parameters
    except (TypeError, ValueError):
        return []
    if any(p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()):
        return []
    return [k.arg for k in call.keywords if k.arg is not None and k.arg not in params]


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_engine_names_used_by_scripts_resolve(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    modules, objects, problems = _engine_bindings(tree)

    def attr_target(node: ast.AST):
        """The engine object ``alias.name`` refers to, or None when the
        expression is not an attribute of an engine-module alias."""
        if not (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)):
            return None
        mods = modules.get(node.value.id)
        if not mods:
            return None
        found = [getattr(mod, node.attr) for mod in map(importlib.import_module, mods)
                 if hasattr(mod, node.attr)]
        if not found:
            problems.append(f"line {node.lineno}: {node.value.id}.{node.attr}")
            return None
        return found[0]

    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            attr_target(node)
        if isinstance(node, ast.Call):
            fn = attr_target(node.func)
            if fn is None and isinstance(node.func, ast.Name):
                fn = objects.get(node.func.id)
            if callable(fn):
                for kw in _bad_keywords(fn, node):
                    problems.append(f"line {node.lineno}: keyword {kw}= of {fn.__name__}")
    assert not problems, sorted(set(problems))
