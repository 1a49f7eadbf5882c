"""bench.py harness contracts that need no Spark session: the rotated pass
orders, the one-line stdout summary, and the names scripts/ import from
bench.py."""

from __future__ import annotations

import ast
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
