"""Every iterative kernel should hand its sweep to the one fixpoint driver,
``plans/fixpoint.iterate``, which alone times sweeps and builds their
``IterationMetrics``. This Spark-free scan keeps it that way: it lists the
functions that still build such records themselves. An entry leaves the
list when its loop moves onto the driver; a new entry needs a reason."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "haskellpagerank_spark"

ALLOWED = {
    # the driver itself
    ("plans/fixpoint.py", "iterate"),
    # hand-rolled loops not yet on the driver
    ("operators/prism.py", "run_pagerank_incremental"),
    ("operators/structure.py", "strongly_connected_components"),
    ("operators/structure.py", "sssp"),
    ("operators/structure.py", "k_truss"),
    ("operators/coloring.py", "_fixed_point_coloring"),
    ("operators/coloring.py", "speculative_coloring"),
    ("operators/coloring.py", "maximal_independent_set"),
    ("operators/coloring.py", "maximal_matching"),
    ("operators/anf.py", "anf"),
    ("operators/betweenness.py", "betweenness"),
    ("streaming/ingest.py", "maintain_ranks_catalog"),
    # one record for a run with no sweep: the driver-local COST tiers and
    # incremental CC's converged warm start
    ("operators/structure.py", "strongly_connected_components_local"),
    ("operators/structure.py", "trussness_local"),
    ("operators/structure.py", "coreness_local"),
    ("operators/components.py", "connected_components_incremental"),
}

# kernels whose every loop runs on the driver, checked file by file
ON_DRIVER = sorted(
    str(p.relative_to(PKG)) for pattern in
    ("operators/centrality.py", "operators/pagerank*.py",
     "operators/components*.py") for p in PKG.glob(pattern))

# a loop that calls one of these runs Spark work once per pass
SPARK_ACTIONS = {"localCheckpoint", "checkpoint", "count", "collect",
                 "first", "isEmpty", "toPandas", "persist", "cache"}


def _tree(rel: str) -> ast.Module:
    return ast.parse((PKG / rel).read_text(), filename=rel)


def _calls(node: ast.AST, name: str):
    for sub in ast.walk(node):
        if isinstance(sub, ast.Call):
            f = sub.func
            if (isinstance(f, ast.Name) and f.id == name) or (
                    isinstance(f, ast.Attribute) and f.attr == name):
                yield sub


def _metrics_sites() -> set[tuple[str, str]]:
    """(file, top-level function) of every ``IterationMetrics(`` call."""
    sites = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        for top in _tree(rel).body:
            if any(_calls(top, "IterationMetrics")):
                sites.add((rel, getattr(top, "name", "<module>")))
    return sites


def _outer_loops(node: ast.AST):
    """Loops of ``node`` outside any nested function: a loop inside a
    sweep closure (pagerankPP's per-colour pass) is part of one sweep."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.For, ast.While)):
            yield child
        if not isinstance(child, (ast.FunctionDef, ast.Lambda)):
            yield from _outer_loops(child)


def test_only_listed_functions_build_iteration_metrics():
    assert _metrics_sites() - ALLOWED == set(), (
        "run the loop through plans/fixpoint.iterate")


def test_allow_list_has_no_stale_entries():
    assert ALLOWED - _metrics_sites() == set(), (
        "these no longer build IterationMetrics: drop them from ALLOWED")


@pytest.mark.parametrize("rel", ON_DRIVER)
def test_kernel_file_leaves_the_loop_to_the_driver(rel):
    tree = _tree(rel)
    assert not any(_calls(tree, "monotonic")), "timing is the driver's"
    sweeps = [
        loop.lineno for top in tree.body
        if isinstance(top, ast.FunctionDef) for loop in _outer_loops(top)
        if any(any(_calls(loop, a)) for a in SPARK_ACTIONS)
    ]
    assert sweeps == [], f"{rel}: Spark work in a loop at lines {sweeps}"


def test_centrality_has_no_loop():
    tree = _tree("operators/centrality.py")
    assert not any(isinstance(n, (ast.For, ast.While))
                   for n in ast.walk(tree))
    assert not any(_calls(tree, "IterationMetrics"))
    assert not [f for f, _ in ALLOWED if f == "operators/centrality.py"]
