"""Interleaved A/B: semantic_dedup's per-PAIR dot as an interpreted
aggregate/zip_with HOF fold (the SHIPPED shape) vs a flat element_at
multiply-add chain unrolled at plan build time (guide §4.1's "prefer
built-in expressions" taken literally).

MEASURED RESULT (r15, quiet canaries 0.132/0.082): the unroll is ~2x
SLOWER — min 2.97 s (fold) vs 5.81 s (unrolled), rows identical. The
HOF fold makes ONE native pass over the primitive array per pair; d
scattered element_at accesses each re-check null/bounds and defeat
that. Kept as the documented negative result (guide §1: the "ideal"
plan measured slower; reverted) — do not re-try without a different
mechanism.

Usage: python scripts/semantic_pair_ab_probe.py [N]
"""
from __future__ import annotations

import json
import os
import sys
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from pyspark.sql import functions as F

from lakeshed.io import load_star
from lakeshed.llm import similarity


def _dot_unrolled(a, b, d):
    """The rejected variant: same 0.0 seed and left-to-right addition
    order as similarity._dot_d (bit-identical results), but as a flat
    codegen'd expression chain instead of one HOF fold."""
    out = F.lit(0.0)
    for i in range(1, d + 1):
        out = out + F.element_at(a, i) * F.element_at(b, i)
    return out


def old_shape(spark, sf_dir):
    """The shipped shape (HOF fold)."""
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.semantic_dedup(emb, k=8, threshold=0.97, iters=3)


def new_shape(spark, sf_dir):
    """The rejected variant: _dot_d patched to the unrolled chain at
    plan-construction time (execution is unaffected by the restore)."""
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    d = len(emb.select("embedding").first()[0])
    with mock.patch.object(
        similarity, "_dot_d", lambda a, b: _dot_unrolled(a, b, d)
    ):
        return similarity.semantic_dedup(emb, k=8, threshold=0.97,
                                         iters=3)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    from lakeshed.session import get_spark

    spark = get_spark("lakeshed-semantic-pair-ab")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    a = {tuple(r) for r in old_shape(spark, sf).collect()}
    b = {tuple(r) for r in new_shape(spark, sf).collect()}
    print(f"rows_identical={a == b} n={len(a)}", flush=True)
    runs = {"old": bench.noop_sink(spark, old_shape),
            "new": bench.noop_sink(spark, new_shape)}
    for run in runs.values():
        bench.timed(run)  # untimed warm-up
    samples = {"old": [], "new": []}
    for i in range(n):
        order = ("old", "new") if i % 2 == 0 else ("new", "old")
        for shape in order:
            samples[shape].append(round(bench.timed(runs[shape]), 3))
    print(json.dumps({
        **samples,
        "min_old": min(samples["old"]),
        "min_new": min(samples["new"]),
        "new_over_old_min": round(min(samples["new"]) /
                                  min(samples["old"]), 3),
    }, indent=1))


if __name__ == "__main__":
    main()
