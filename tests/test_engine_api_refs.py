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
import re
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


# ---------------------------------------------------------------------------
# Reachability: every top-level engine definition is reached from a face,
# a script, the package's own module-level code, or the allowlist below.

#: Entry points that no face, perfbench script or tool calls, each kept on
#: purpose. An entry that is undefined, or that another root reaches, fails.
REACHABILITY_ALLOWLIST = {
    # test references: oracles that the engine output is checked against
    "reference_bpe": "pure-Python BPE trainer that tests/test_bpe.py checks the Spark trainer against",
    "embedding_cosine_dup_pairs": "exact all-pairs cosine that tests/test_similarity.py measures LSH recall against",
    # streaming forms whose batch sibling is the face; a replay test pins each
    "dedup_documents_stream": "streaming dedup; tests/test_streaming_dedup.py replays it against the batch face",
    "enrich_stream_with_static": "stream-static join; tests/test_streaming.py replays it against the batch face",
    "ewma_anomaly_stream": "stateful EWMA stream; tests/test_stateful_streaming.py replays it against the batch face",
    "start_upsert_stream": "foreachBatch upsert stream; tests/test_streaming_upsert.py replays it",
    "record_breaking_stream_gs": "record-breaking stream; tests/test_tws_records.py replays it against the batch face",
    # reference capabilities that have no face yet
    "turbofan_val_windows": "reference val mode (datasets/turbofan.py:118-163); tests/test_cmapss_pipelines.py",
    "array_window_zscore": "reference per-window normalization A2 on an array window; tests/test_windowing_golden.py",
    "read_mat_music": "reference music .mat loader; tests/test_cmapss_pipelines.py checks its error without scipy",
    "reconstruct": "forward pass of the reference seq2seq autoencoder; tests/test_autoregressive_seq2seq.py",
    "write_metrics_json": "reference training-metrics JSON sink; tests/test_sinks.py",
    "train_rul_linear_baseline": "MLlib RUL regression baseline; tests/test_mllib_baselines.py",
    "train_rul_alarm_logistic_baseline": "MLlib RUL alarm classifier baseline; tests/test_mllib_baselines.py",
    "rul_feature_frame": "feature frame the MLlib baselines train on; tests/test_mllib_baselines.py",
    # multimodal form
    "resize_images": "image-column resize of the multimodal operators; tests/test_ml_and_multimodal.py",
    # observability hook
    "observe_quality": "observe()-based quality counters (tests/test_sinks.py), the candidate per-request metrics hook",
}

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _names(nodes) -> set[str]:
    """Every identifier the nodes mention: names, attributes, imported
    names and identifier-shaped string constants."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.update(node.name.split("."))
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if _IDENT.match(node.value):
                    out.add(node.value)
    return out


def _is_register(deco: ast.expr) -> bool:
    return isinstance(deco, ast.Call) and isinstance(deco.func, ast.Name) and deco.func.id == "register"


def _is_all(node: ast.stmt) -> bool:
    return isinstance(node, ast.Assign) and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)


def _package_graph():
    """(definitions name -> [locations], edges name -> names its bodies
    mention, root names from module-level code and @register faces,
    import aliases asname -> name)."""
    defs: dict[str, list[str]] = {}
    edges: dict[str, set[str]] = {}
    roots: set[str] = set()
    aliases: dict[str, set[str]] = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        where = str(path.relative_to(ROOT))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(f"{where}:{node.lineno}")
                edges.setdefault(node.name, set()).update(_names([node]))
                if any(_is_register(d) for d in node.decorator_list):
                    roots.add(node.name)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                # an import binds a name; only its use reaches the target
                for a in node.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(a.name.split(".")[-1])
            elif not _is_all(node):  # a re-export list names definitions, it does not use them
                roots |= _names([node])
    return defs, edges, roots, aliases


def _closure(start: set[str], edges, aliases) -> set[str]:
    seen: set[str] = set()
    todo = list(start)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(edges.get(name, ()))
        todo.extend(aliases.get(name, ()))
    return seen


def test_every_engine_definition_is_reached():
    """Name matching over-matches (a shared name reaches every definition
    of it), so this can miss dead code but never flags a definition that
    is called by its name."""
    defs, edges, roots, aliases = _package_graph()
    scripts = [*SCRIPTS, ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for path in scripts:
        roots |= _names([ast.parse(path.read_text(), filename=str(path))])
    reached = _closure(roots, edges, aliases)
    problems = [f"allowlisted {n!r} is not defined" for n in REACHABILITY_ALLOWLIST if n not in defs]
    problems += [
        f"allowlisted {n!r} is reached without the allowlist" for n in REACHABILITY_ALLOWLIST if n in reached
    ]
    reached |= _closure(set(REACHABILITY_ALLOWLIST), edges, aliases)
    problems += [f"{n} ({', '.join(locs)}) is not reached" for n, locs in sorted(defs.items()) if n not in reached]
    assert not problems, problems


# ---------------------------------------------------------------------------
# Switches: every parameter of a public top-level engine function (outside
# plans/) whose default is None, True or False is set by some call outside
# the tests, or is on the allowlist below.

#: Switches that no face, engine call, perfbench script or tool sets, each
#: kept on purpose. An entry that is not a switch, or that a call sets, fails.
SWITCH_ALLOWLIST = {
    # names, not code paths
    "asof_join.right_ts": "column name; None reuses left_ts, as both faces' sides share the ts column",
    "quality_score.stopwords": "stopword list; None is LANG_STOPWORDS['en']",
    "remove_stopwords.stopwords": "stopword list; None is LANG_STOPWORDS['en']",
    # set, but not visibly to a name match
    "connected_components.stats": "round-count out-parameter; perfbench's corpus workload passes it through a wrapper",
    "minhash_components_collapsed.collapse": "perfbench passes the default explicitly; the star path goes with ROADMAP item 2",
    # reference forms that have no face (see REACHABILITY_ALLOWLIST)
    "resize_images.kernel": "pins the resize kernel where PIL is installed; tests/test_ml_and_multimodal.py",
}


def _switches() -> dict[tuple[str, str], tuple[int | None, object, str]]:
    """(function, parameter) -> (position, or None when keyword-only;
    default; location) for every switch in scope."""
    out: dict[tuple[str, str], tuple[int | None, object, str]] = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        where = path.relative_to(ROOT)
        if where.parts[1] == "plans":
            continue
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) or node.name.startswith("_"):
                continue
            a = node.args
            positional = [*a.posonlyargs, *a.args]
            defaults = [None] * (len(positional) - len(a.defaults)) + a.defaults
            params = [(i, p, d) for i, (p, d) in enumerate(zip(positional, defaults))]
            params += [(None, p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
            for i, p, d in params:
                if isinstance(d, ast.Constant) and (d.value is None or isinstance(d.value, bool)):
                    out[(node.name, p.arg)] = (i, d.value, f"{where}:{node.lineno}")
    return out


def _passed(call: ast.Call, param: str, position: int | None) -> ast.expr | None:
    """The expression ``call`` passes for ``param``, by keyword or by
    position. A splat (``*args``, ``**kwargs``) hides what it passes, so
    it does not count."""
    for kw in call.keywords:
        if kw.arg == param:
            return kw.value
    for j, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            break
        if j == position:
            return arg
    return None


def test_every_engine_switch_is_set():
    """Calls match functions by name, so a call of any function with the
    same name sets the switch: this can miss a switch that nothing sets,
    but never flags one that a call sets."""
    switches = _switches()
    by_function: dict[str, list[tuple[str, int | None, object]]] = {}
    for (fn, param), (position, default, _) in switches.items():
        by_function.setdefault(fn, []).append((param, position, default))
    callers = [*(ROOT / PKG).rglob("*.py"), *SCRIPTS, ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    set_by_a_call: set[str] = set()
    for path in callers:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            for param, position, default in by_function.get(name, ()):
                value = _passed(node, param, position)
                if value is not None and not (isinstance(value, ast.Constant) and value.value is default):
                    set_by_a_call.add(f"{name}.{param}")
    names = {f"{fn}.{param}": loc for (fn, param), (_, _, loc) in switches.items()}
    problems = [f"allowlisted {n!r} is not a switch" for n in SWITCH_ALLOWLIST if n not in names]
    problems += [f"allowlisted {n!r} is set without the allowlist" for n in SWITCH_ALLOWLIST if n in set_by_a_call]
    problems += [
        f"{n}= ({loc}) is set by no call outside the tests"
        for n, loc in sorted(names.items())
        if n not in set_by_a_call and n not in SWITCH_ALLOWLIST
    ]
    assert not problems, problems
