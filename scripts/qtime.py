"""Isolated per-query timing with bench.py's per-execution method
(bench.timed over bench.noop_sink: release_persisted, then one noop-sink
write): one untimed warm-up execution, then N timed executions in one
session — the within-session A/B instrument (OPTIMIZATION_r14.md:
cross-session bands are unusable when the box itself shifts ~1.45x).

Usage: python scripts/qtime.py <query>[,<query>...] [N]
Prints one line per query: name, N samples, min/median.
"""
from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from lakeshed import queries as q
from lakeshed.session import get_spark


def main() -> None:
    names = sys.argv[1].split(",")
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("lakeshed-qtime")
    spark.sparkContext.setLogLevel("ERROR")
    reg = q.spark_queries()
    for name in names:
        run = bench.noop_sink(spark, reg[name])
        bench.timed(run)  # untimed warm-up
        samples = [round(bench.timed(run), 3) for _ in range(n)]
        print(f"{name}: {samples} min={min(samples)} "
              f"median={statistics.median(samples)}", flush=True)


if __name__ == "__main__":
    main()
