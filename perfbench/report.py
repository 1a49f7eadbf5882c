"""Summaries for the result line and the detail file."""

from __future__ import annotations

import platform
import subprocess

from perfbench.measure import geomean, median, tail


def versions(spark) -> dict:
    try:
        java = subprocess.run(["java", "-version"], capture_output=True,
                              text=True, timeout=30).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.SubprocessError):
        java = "unknown"
    return {"spark": spark.version, "java": java,
            "python": platform.python_version()}


def end_to_end(timed, *, setup_s: float, run_s: float,
               cpu_s: float) -> dict:
    """End-to-end metrics over the timed ops.

    Mixed op kinds are summarised per kind first, so that no summary sits
    on a boundary between the modes of different kinds: ``op_gm_ms`` is
    the geometric mean over kinds of each kind's median latency.
    ``op_tail_ms`` pools every timed op and takes its p90 (nearest rank);
    the rank and the sample count are kept in the detail file."""
    by_kind: dict[str, list[float]] = {}
    for o in timed:
        by_kind.setdefault(o.kind, []).append(o.ms)
    medians = {k: median(v) for k, v in by_kind.items()}
    op_tail = tail([o.ms for o in timed])
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "run_s": {"value": run_s, "unit": "s"},
        "op_gm_ms": {"value": geomean(list(medians.values())), "unit": "ms"},
        "op_tail_ms": {"value": op_tail["value"], "unit": "ms"},
        "cpu_s": {"value": cpu_s, "unit": "s"},
    }
    return {"metrics": metrics, "kind_median_ms": medians,
            "op_tail": op_tail}
