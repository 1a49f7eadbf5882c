"""bench.py harness contracts that need no Spark session: the rotated pass
orders, the one-line stdout summary, and the names scripts/ use from
bench.py and from lakeshed."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import json
import os

import bench
from lakeshed import queries as q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _suite() -> list[str]:
    return [n for n in q.spark_queries() if n not in bench.SKIP]


def test_rotations_permute_suite_and_move_every_query():
    """Each pass runs the whole suite once, and no query keeps its
    position from one pass to another (so a contention wave over one
    stretch of the run lands on different queries each pass)."""
    suite = _suite()
    assert len(suite) > (bench.R - 1) ** 2
    for names in (suite, [f"q{i}" for i in range(5)],
                  [f"q{i}" for i in range(31)]):
        passes = bench.rotations(names)
        assert len(passes) == bench.R
        for order in passes:
            assert sorted(order) == sorted(names)
        for name in names:
            positions = [order.index(name) for order in passes]
            assert len(set(positions)) == bench.R, (name, positions)


def test_summary_line_fits_stdout_tail_and_carries_contract():
    """The stdout line stays ≤400 chars with every registered query at
    999.999 s — worst case: the five LONGEST names are the top five —
    and carries the keys a reader of the line needs."""
    suite = sorted(_suite(), key=len, reverse=True)
    timings = {name: 999.999 for name in suite}
    line = bench.summary_line(timings, 0.1, 128, 128,
                              "BENCH_DETAIL_r99.json")
    assert len(line) <= 400, len(line)
    rec = json.loads(line)
    for key in ("metric", "value", "n_queries", "cpus",
                "default_parallelism", "detail"):
        assert key in rec, key
    assert rec["metric"] == "lakeshed_headline_queries_total"
    assert rec["n_queries"] == len(suite)
    assert set(rec["queries"]) == set(suite[:5])
    assert rec["value"] == round(999.999 * len(suite), 3)


def _bench_defines() -> set[str]:
    with open(os.path.join(REPO, "bench.py")) as fh:
        tree = ast.parse(fh.read())
    names: set[str] = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets
                         if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name):
            names.add(node.target.id)
    return names


def test_scripts_use_only_names_bench_defines():
    """Every ``bench.<name>`` and ``from bench import <name>`` in
    scripts/ names a top-level def or assignment of bench.py — a
    removed helper must not leave scripts that fail on import."""
    defined = _bench_defines()
    scripts = os.path.join(REPO, "scripts")
    used: list[tuple[str, str]] = []
    for fname in sorted(os.listdir(scripts)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(scripts, fname)) as fh:
            tree = ast.parse(fh.read(), fname)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "bench"):
                used.append((fname, node.attr))
            elif isinstance(node, ast.ImportFrom) and node.module == "bench":
                used.extend((fname, a.name) for a in node.names)
    assert used, "no script uses bench.py"
    missing = [(f, n) for f, n in used if n not in defined]
    assert not missing, missing


def _lakeshed_uses(tree: ast.AST) -> list[tuple[str, str]]:
    """``(module, name)`` for every ``from lakeshed… import <name>`` and
    every ``<alias>.<name>`` where ``<alias>`` was bound to a lakeshed
    module by an import anywhere in the file."""
    used: list[tuple[str, str]] = []
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (
                node.module or "").split(".")[0] == "lakeshed":
            for a in node.names:
                used.append((node.module, a.name))
                sub = f"{node.module}.{a.name}"
                if importlib.util.find_spec(node.module) and _is_module(sub):
                    aliases[a.asname or a.name] = sub
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "lakeshed" and a.asname:
                    aliases[a.asname] = a.name
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in aliases):
            used.append((aliases[node.value.id], node.attr))
    return used


def _is_module(dotted: str) -> bool:
    try:
        return importlib.util.find_spec(dotted) is not None
    except ModuleNotFoundError:
        return False


def test_scripts_use_only_names_lakeshed_defines():
    """Every ``from lakeshed… import <name>`` and every
    ``<lakeshed-module alias>.<name>`` in scripts/ names an attribute the
    module has (or a submodule) — a removed engine helper must not leave
    a script that fails when it runs. Imports the modules only; no Spark
    session."""
    scripts = os.path.join(REPO, "scripts")
    used: list[tuple[str, str, str]] = []
    for fname in sorted(os.listdir(scripts)):
        if fname.endswith(".py"):
            with open(os.path.join(scripts, fname)) as fh:
                tree = ast.parse(fh.read(), fname)
            used += [(fname, m, n) for m, n in _lakeshed_uses(tree)]
    assert used, "no script uses lakeshed"
    missing = [
        (f, m, n) for f, m, n in used
        if not (hasattr(importlib.import_module(m), n)
                or _is_module(f"{m}.{n}"))
    ]
    assert not missing, missing
