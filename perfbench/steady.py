"""Steadiness self-check for the benchmark.

Runs ``run.py`` repeatedly on each workload, one seed per run, and
reports for every end-to-end metric the median and the inter-quartile
range (IQR, from ``statistics.quantiles(values, n=4)``) as a share of the
median, against the bound declared in ``BENCHMARK.json``. It also checks,
run by run, that warm-up is complete: for every op kind with at least
four timed samples in a run, the run's first timed op of that kind must
not lie above that kind's IQR in that run by more than 1.5 IQR (Tukey's
upper fence). An unfinished warm-up shows as a first op 1.6-5x the
steady latency, far beyond the fence. "Inside the IQR" would be too
strict: a fully warm first op lies above Q3 in a quarter of the runs by
chance alone, and on cdc_upsert the first read-backs after maintenance
are slower by layout (their key range still spans the last compacted
file). How often the first op lies above Q3 is reported all the same.
Kinds timed fewer than four times per run cannot be checked this way and
are listed as unchecked. With ``--traced`` it reports tracing overhead
as traced minus untraced ``run_s``.

    python3 perfbench/steady.py --runs 10
    python3 perfbench/steady.py --runs 5 --workloads corpus_dedup --traced

Exit status is 1 when a run is not correct, a spread exceeds its bound
or a warm-up check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{cmd} failed:\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", "out",
                           f"{workload}-{seed}-trace{trace}.json")) as fh:
        result["detail"] = json.load(fh)
    return result


def _spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def _warmup(runs: list[dict]) -> dict:
    checked: dict[str, list[dict]] = {}
    unchecked: set[str] = set()
    for r in runs:
        per_kind: dict[str, list[float]] = {}
        for _id, kind, ms, _ok, warm in r["detail"]["ops"]:
            if not warm:
                per_kind.setdefault(kind, []).append(ms)
        for kind, xs in per_kind.items():
            if len(xs) < 4:
                unchecked.add(kind)
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            checked.setdefault(kind, []).append(
                {"first_ms": xs[0], "q1_ms": q1, "q3_ms": q3,
                 "fence_ms": q3 + 1.5 * (q3 - q1)})
    out: dict = {"unchecked": sorted(unchecked), "kinds": {}}
    for kind, rs in checked.items():
        above = sum(x["first_ms"] > x["q3_ms"] for x in rs)
        cold = sum(x["first_ms"] > x["fence_ms"] for x in rs)
        out["kinds"][kind] = {"runs": rs, "above_q3": above,
                              "above_fence": cold,
                              "ok": cold == 0}
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    failed = False
    report = {}
    for w in args.workloads.split(","):
        seeds = range(args.first_seed, args.first_seed + args.runs)
        runs = [_run(w, s, args.seconds, 0) for s in seeds]
        rep = {"correct": all(r["correct"] for r in runs), "metrics": {}}
        failed |= not rep["correct"]
        for name, bound in bounds.items():
            med, spread = _spread([r["metrics"][name]["value"]
                                   for r in runs])
            ok = spread <= bound
            failed |= not ok
            rep["metrics"][name] = {"median": med, "iqr_share": spread,
                                    "bound": bound, "ok": ok}
        rep["warmup"] = _warmup(runs)
        failed |= not all(v["ok"] for v in rep["warmup"]["kinds"].values())
        if args.traced:
            over = []
            for s, r in zip(seeds, runs):
                t = _run(w, s, args.seconds, 1)
                over.append(t["metrics"]["trace.run_s"]["value"]
                            - r["metrics"]["run_s"]["value"])
            rep["trace_overhead_s"] = statistics.median(over)
        report[w] = rep
        for name, m in rep["metrics"].items():
            print(f"{w:14s} {name:12s} median {m['median']:10.3f} "
                  f"IQR/median {m['iqr_share']:6.3f} bound {m['bound']:.2f} "
                  f"{'ok' if m['ok'] else 'WIDE'}", file=sys.stderr)
        for kind, v in rep["warmup"]["kinds"].items():
            print(f"{w:14s} warm-up {kind:12s} first op above Q3 in "
                  f"{v['above_q3']}/{len(v['runs'])} runs, above the fence "
                  f"in {v['above_fence']} {'ok' if v['ok'] else 'COLD'}",
                  file=sys.stderr)
        print(f"{w:14s} warm-up unchecked (under 4 samples a run): "
              f"{', '.join(rep['warmup']['unchecked'])}", file=sys.stderr)
    print(json.dumps(report, indent=1))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
