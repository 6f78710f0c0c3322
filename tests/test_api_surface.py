"""The package carries no option that nothing sets.

Pure AST, no Spark. Every defaulted parameter of a public module-level
function under ``cdc_pipeline_spark/`` must be passed, by position or by
keyword, by at least one call in a ``.py`` file of the repository (test
calls count). An option no caller picks doubles the configurations the
batch and the streaming twin of an operator would have to cover, for no
workload.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "cdc_pipeline_spark"

# Chosen where the service is deployed, not by any caller in the repo.
DEPLOYMENT_SETTINGS = {
    "serving/ws.py::serve_ws(host)",
    "serving/ws.py::serve_ws(port)",
    "sources/kafka_avro.py::fetch_schema_from_registry(timeout)",
}


def _trees():
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO)
        if not any(part.startswith(".") for part in rel.parts):
            yield rel, ast.parse(path.read_text(), str(rel))


def _call_sites(trees):
    """Function name -> [(positional count, keyword names)] over every call,
    plus the names whose arguments the scan cannot see: a function called
    with ``*args``/``**kwargs`` or handed on as a value."""
    calls, opaque = defaultdict(list), set()
    for _, tree in trees:
        aliases, found, not_values = {}, [], set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                aliases.update((a.asname, a.name) for a in node.names if a.asname)
            elif isinstance(node, ast.Call):
                not_values.add(id(node.func))
                found.append(node)
            elif isinstance(node, ast.Attribute):
                not_values.add(id(node.value))
                found.append(node)
            elif isinstance(node, ast.Name):
                found.append(node)

        def name(node):
            if isinstance(node, ast.Name):
                return aliases.get(node.id, node.id)
            return node.attr if isinstance(node, ast.Attribute) else None

        for node in found:
            if isinstance(node, ast.Call):
                keywords = {k.arg for k in node.keywords}
                if None in keywords or any(isinstance(a, ast.Starred) for a in node.args):
                    opaque.add(name(node.func))
                calls[name(node.func)].append((len(node.args), keywords))
            elif isinstance(node.ctx, ast.Load) and id(node) not in not_values:
                opaque.add(name(node))
    return calls, opaque


def _unset_options():
    trees = list(_trees())
    calls, opaque = _call_sites(trees)
    unset = []
    for rel, tree in trees:
        if rel.parts[0] != PACKAGE.name:
            continue
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            if fn.name in opaque:
                continue
            args = fn.args
            positional = args.posonlyargs + args.args
            defaulted = [
                (p.arg, i)
                for i, p in enumerate(positional)
                if i >= len(positional) - len(args.defaults)
            ] + [
                (p.arg, None)
                for p, d in zip(args.kwonlyargs, args.kw_defaults)
                if d is not None
            ]
            for param, index in defaulted:
                if param.startswith("_"):
                    continue
                if any(
                    param in keywords or (index is not None and n_pos > index)
                    for n_pos, keywords in calls[fn.name]
                ):
                    continue
                label = f"{rel.relative_to(PACKAGE.name).as_posix()}::{fn.name}({param})"
                if label not in DEPLOYMENT_SETTINGS:
                    unset.append(label)
    return unset


def test_every_defaulted_parameter_has_a_caller():
    unset = _unset_options()
    assert not unset, (
        f"{len(unset)} defaulted parameter(s) that no call in the repo passes; "
        "bind each to its default in the body:\n  " + "\n  ".join(unset)
    )
