"""Source-level guards over the package (no Spark session needed)."""

from __future__ import annotations

import ast
from pathlib import Path

import neo4j_graphrag_python_spark

PACKAGE = Path(neo4j_graphrag_python_spark.__file__).parent
BROAD = {"Exception", "BaseException"}


def _is_broad(handler: ast.ExceptHandler) -> bool:
    types = handler.type
    if types is None:  # bare ``except:``
        return True
    names = types.elts if isinstance(types, ast.Tuple) else [types]
    return any(isinstance(n, ast.Name) and n.id in BROAD for n in names)


def test_no_broad_except_that_only_passes() -> None:
    """A broad ``except`` whose body is only ``pass`` silently swallows
    every failure — a failed materialization, a missing guard class.
    Catch a narrow type, or handle/re-raise."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ExceptHandler)
                and _is_broad(node)
                and all(isinstance(s, ast.Pass) for s in node.body)
            ):
                offenders.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not offenders, offenders


def test_benchmark_trace_targets_resolve() -> None:
    """Every ``module:attr`` a benchmark workload's traced run rebinds must
    exist: a dropped import would otherwise only surface as an
    AttributeError inside ``perfbench/run.py --trace 1``."""
    import importlib

    from perfbench.workloads import WORKLOADS

    missing = []
    for name, workload in sorted(WORKLOADS.items()):
        for target in workload.traced:
            mod_name, attr = target.split(":")
            if not hasattr(importlib.import_module(mod_name), attr):
                missing.append(f"{name}: {target}")
    assert WORKLOADS and not missing, missing
