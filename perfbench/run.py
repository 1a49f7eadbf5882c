"""lakeshed benchmark: one workload, one seed, one closed-loop client.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 24 --trace 0

Phases:

1. Inputs are generated from ``--seed`` (cached per workload and seed under
   ``.perfbench/cache``); this is not part of any metric.
2. Set-up: interpreter, JVM and SparkSession start, the workload's
   program-side set-up and one warm pass per op kind. ``setup_s`` runs
   from process start to the first timed op, minus input generation.
3. Timed phase: a fixed number of whole rotations of the workload's op
   mix, one op at a time, sized to last about ``--seconds`` on the
   reference machine (4 cores).
4. Output checks (outside op timing) and the result line.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` tracing is on and it carries the per-layer metrics.
Details (per-op samples, host facts, the trace) go to
``.perfbench/out/<workload>-<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("cdc_upsert", "corpus_dedup")
DRIVER_MEM = "2g"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _isolate(work: str) -> dict[str, str]:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "LAKESHED_WAREHOUSE": os.path.join(work, "warehouse"),
        "LAKESHED_DERBY_HOME": os.path.join(work, "derby"),
        # the deployment's heap cap (lakeshed's own knob, default 8g):
        # every input fits with room to spare on a machine shared with
        # other work; the heap still grows and shrinks as the JVM decides
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    import tempfile
    tempfile.tempdir = tmp
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": tmp,
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def _shutdown(spark) -> None:
    """Stop Spark, then end the JVM and wait for every process this run
    started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    from perfbench.measure import tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    children = tree()[1:]
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def _workload(name: str):
    if name == "cdc_upsert":
        from perfbench.cdc import CdcUpsert
        return CdcUpsert
    from perfbench.corpus import CorpusDedup
    return CorpusDedup


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "lakeshed")):
        _fail(f"no lakeshed package under {ROOT}; run from a checkout")
    sys.path.insert(0, ROOT)
    from perfbench import gen, measure, report
    from perfbench.harness import Recorder

    t_proc = measure.process_start_epoch()
    rss = measure.RssSampler().start()

    t_gen = time.time()
    inputs = gen.ensure(args.workload, args.seed,
                        os.path.join(STATE, "cache"))
    gen_s = time.time() - t_gen

    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-"
                                       f"{args.trace}-{os.getpid()}")
    conf = _isolate(work)
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer
        tracer = Tracer(work)
        conf.update(tracer.spark_conf())
        tracer.install()

    from lakeshed.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    t_sess = time.time()
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # first action: the session is usable
    session_s = time.time() - t_sess

    rec = Recorder(tracer)
    wl = _workload(args.workload)(spark, inputs, work, rec, tracer)
    try:
        t0 = time.time()
        wl.setup()
        program_setup_s = time.time() - t0
        wl.warm()
        rec.warm = False
        t_first = time.time()
        setup_s = (t_first - t_proc) - gen_s

        p_first = time.perf_counter()
        cpu0 = measure.tree_cpu_s()
        host0 = measure.host_counters()
        # a fixed number of whole rotations, sized from the workload's
        # nominal rotation time on the reference machine so that the
        # timed phase lasts about --seconds; a fixed count keeps the work
        # (and so every per-run summary) the same from run to run
        rotations = max(1, round(args.seconds / wl.rotation_s))
        for _ in range(rotations):
            wl.rotation()
        t_end = time.time()
        p_end = time.perf_counter()
        cpu1 = measure.tree_cpu_s()
        host1 = measure.host_counters()
    finally:
        ok = wl.finish()
    rss.stop()

    timed = rec.timed()
    facts = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "cpus": cpus,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "versions": report.versions(spark),
        "gen_s": gen_s, "session_s": session_s,
        "program_setup_s": program_setup_s,
        "rotations": rotations,
        "peak_rss_mb": rss.peak_mb(),
        "timed_median_rss_mb": rss.median_mb(p_first, p_end),
        "host": {k: host1[k] - host0[k] for k in host0},
    }
    with open(os.path.join(inputs, "meta.json")) as fh:
        facts["inputs"] = json.load(fh)
    e2e = report.end_to_end(
        timed, setup_s=setup_s, run_s=(t_end - t_first) / rotations,
        cpu_s=(cpu1 - cpu0) / rotations)
    facts["e2e"] = e2e
    if tracer is not None:
        layers = tracer.finish(spark, rec, wl, facts)
    _shutdown(spark)
    shutil.rmtree(work, ignore_errors=True)

    failed = sum(not o.ok for o in rec.ops) + (not ok)
    attempted = len(rec.ops) + 1  # + the final-state check
    metrics = layers if tracer is not None else e2e["metrics"]
    facts["ops"] = [[o.op_id, o.kind, round(o.ms, 3), o.ok, o.warm]
                    for o in rec.ops]
    os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
    detail = os.path.join(STATE, "out", f"{args.workload}-{args.seed}-"
                                        f"trace{args.trace}.json")
    with open(detail, "w") as fh:
        json.dump(facts, fh, indent=1, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
