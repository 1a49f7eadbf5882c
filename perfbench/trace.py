"""The traced run: spans around lakeshed's public surface plus Spark's
event log, folded into per-layer metrics.

Spans are recorded from the benchmark's own files: :meth:`Tracer.install`
wraps, at runtime, the public methods of ``LakeTable`` and ``Catalog`` and
the public functions of ``lakeshed.session``, ``lakeshed.streaming``,
``lakeshed.llm.dedup`` and ``lakeshed.llm.similarity``. Each call records
(name, start, end, parent, op) in memory; the spans are written out once,
at the end. A function that returns a DataFrame is lazy, so its span
covers only driver-side plan construction and any eager jobs; executor
time comes from the event log, where every job is attributed to the op
that started it (a job-local property), to the micro-batch it belongs to
(streaming jobs carry their batch id), or else to the op whose window
contains it.
"""

from __future__ import annotations

import functools
import glob
import inspect
import itertools
import json
import os
import threading
import time

from perfbench.measure import median

OP_PROP = "perfbench.op"

# SQL metric names (Spark 4.1) of the Python worker boundary
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}

LAYER_NAMES = (
    "session.start_s", "catalog.sql_ms", "catalog.collect_ms",
    "table.create_s", "table.merge_ms", "table.scan_ms", "table.to_arrow_ms",
    "table.compact_ms", "table.expire_ms", "table.files_added",
    "table.files_removed", "table.live_files", "table.log_entries",
    "table.write_amp", "table.space_amp", "pruning.plan_ms",
    "pruning.kept_ratio", "pruning.merge_touched_ratio",
    "pruning.late_merge_touched_ratio", "streaming.commit_p50_ms",
    "streaming.commit_tail_ms", "streaming.trigger_ms",
    "streaming.add_batch_ms", "streaming.log_ms", "streaming.pickup_ms",
    "streaming.rows_in", "streaming.rows_dropped",
    "llm.dedup.minhash_ms", "llm.dedup.simhash_ms", "llm.dedup.clusters_ms",
    "llm.similarity.ann_lsh_ms", "llm.similarity.semdedup_ms",
    "llm.dedup.pairs", "llm.similarity.pairs", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.task_run_ms", "spark.task_cpu_ms", "spark.gc_ms",
    "spark.input_bytes", "spark.output_bytes", "spark.shuffle_write_bytes",
    "spark.fetch_wait_ms", "spark.spill_bytes", "python.boot_ms",
    "python.init_ms", "python.run_ms", "python.bytes_sent",
    "python.bytes_received", "driver.self_ms", "mem.peak_rss_mb",
    "mem.timed_rss_mb", "trace.run_s",
)

def unit_of(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "_amp")):
        return "ratio"
    suffix = name.rsplit("_", 1)[-1]
    if suffix == "mb":
        return "MB"
    return suffix if suffix in ("s", "ms") else "count"


class Tracer:
    def __init__(self, work: str):
        self.work = work
        self.log_dir = os.path.join(work, "eventlog")
        os.makedirs(self.log_dir, exist_ok=True)
        self.spans: list[tuple] = []
        self.facts: list[tuple] = []  # (span id, name, op, dict)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op: str | None = None
        self.batches: dict[int, str] = {}
        self.epoch_offset = time.time() - time.perf_counter()

    # ----------------------------------------------------------- wiring

    def spark_conf(self) -> dict[str, str]:
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}

    def install(self) -> None:
        from lakeshed import catalog, session, table
        from lakeshed import streaming
        from lakeshed.llm import dedup, similarity
        from lakeshed.streaming import changelog, stateful

        for cls, prefix in ((table.LakeTable, "table"),
                            (catalog.Catalog, "catalog")):
            for name, fn in list(vars(cls).items()):
                if not name.startswith("_") and inspect.isfunction(fn):
                    setattr(cls, name, self._wrap(f"{prefix}.{name}", fn))
        for mod, prefix, alias in (
                (session, "session", None),
                (changelog, "streaming", streaming),
                (stateful, "streaming", streaming),
                (dedup, "llm.dedup", None),
                (similarity, "llm.similarity", None)):
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                w = self._wrap(f"{prefix}.{name}", fn)
                setattr(mod, name, w)
                if alias is not None and getattr(alias, name, None) is fn:
                    setattr(alias, name, w)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            op = tracer.op
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                with tracer._lock:
                    tracer.spans.append((sid, name, t0, t1, parent, op))
            tracer._observe(sid, name, op, args, kwargs, out)
            return out

        traced.__wrapped__ = fn
        return traced

    def _observe(self, sid, name, op, args, kwargs, out) -> None:
        """Counts at the table boundary: what each commit wrote and how
        many files a plan kept. Computed after the span closed."""
        fact = None
        if name in ("table.merge", "table.compact") and hasattr(out, "add"):
            live_after = len(_unwrapped_plan(args[0]))
            added, removed = len(out.add), len(out.remove)
            fact = {"added": added, "removed": removed,
                    "bytes": sum(a.bytes for a in out.add),
                    "live_before": live_after - added + removed}
        elif name == "table.plan_files" and (
                kwargs.get("where") or (len(args) > 1 and args[1])):
            version = kwargs.get("version", args[2] if len(args) > 2 else None)
            fact = {"kept": len(out),
                    "live": len(_unwrapped_plan(args[0], version))}
        if fact is not None:
            with self._lock:
                self.facts.append((sid, name, op, fact))

    # -------------------------------------------------------------- ops

    def begin_op(self, op_id: str) -> None:
        self.op = op_id
        self._sc().setLocalProperty(OP_PROP, op_id)

    def end_op(self) -> None:
        self.op = None
        self._sc().setLocalProperty(OP_PROP, None)

    def bind_batch(self, batch_id: int, op_id: str) -> None:
        self.batches[batch_id] = op_id

    @staticmethod
    def _sc():
        from pyspark import SparkContext
        return SparkContext._active_spark_context

    # ----------------------------------------------------------- folding

    def _event_log(self) -> dict:
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks: list[tuple[int, dict, dict]] = []
        for path in glob.glob(os.path.join(self.log_dir, "**", "*"),
                              recursive=True):
            if not os.path.isfile(path):
                continue
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        jobs[jid] = {
                            "start": ev["Submission Time"] / 1000.0,
                            "end": None, "op": props.get(OP_PROP),
                            "batch": props.get("streaming.sql.batchId")}
                        for s in ev.get("Stage IDs", []):
                            stage_job[s] = jid
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["end"] = \
                                ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append((ev["Stage ID"], ev.get("Task Info", {}),
                                      ev.get("Task Metrics") or {}))
        return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}

    def _attribute(self, log: dict, ops) -> dict[int, str]:
        """job id -> op id for the timed ops."""
        windows = [(o.start + self.epoch_offset, o.end + self.epoch_offset,
                    o.op_id) for o in ops]
        timed = {o.op_id for o in ops}
        out = {}
        for jid, j in log["jobs"].items():
            op = j["op"]
            if op is None and j["batch"] is not None:
                op = self.batches.get(int(j["batch"]))
            if op is None:
                op = next((w[2] for w in windows
                           if w[0] <= j["start"] <= w[1]), None)
            if op in timed:
                out[jid] = op
        return out

    def finish(self, spark, rec, wl, facts: dict) -> dict:
        """Fold spans, counts and the event log into the per-layer
        metrics. Stops Spark, which flushes the event log."""
        ops = rec.timed()
        op_ids = {o.op_id for o in ops}
        by_kind: dict[str, list] = {}
        for o in ops:
            by_kind.setdefault(o.kind, []).append(o)
        m = {n: 0.0 for n in LAYER_NAMES}
        m["session.start_s"] = facts["session_s"]
        m["trace.run_s"] = facts["e2e"]["metrics"]["run_s"]["value"]
        m["mem.peak_rss_mb"] = facts["peak_rss_mb"]
        m["mem.timed_rss_mb"] = facts["timed_median_rss_mb"]

        def p50(xs):
            return median(xs) if xs else 0.0

        def spans(name):
            return [s for s in self.spans if s[1] == name and s[5] in op_ids]

        def span_ms(name):
            return p50([(s[3] - s[2]) * 1000 for s in spans(name)])

        def op_ms(kind):
            return p50([o.ms for o in by_kind.get(kind, [])])

        # catalog: Catalog.sql returning its frame, then the action on it
        sql = {s[5]: (s[3] - s[2]) * 1000 for s in spans("catalog.sql")}
        m["catalog.sql_ms"] = p50(list(sql.values()))
        m["catalog.collect_ms"] = p50(
            [o.ms - sql[o.op_id] for o in ops if o.op_id in sql])
        # table: set-up time is the top-level set-up spans (no op, no parent)
        m["table.create_s"] = sum(
            s[3] - s[2] for s in self.spans
            if s[5] is None and s[4] is None
            and s[1] in ("catalog.create_table", "table.create",
                         "table.compact"))
        m["table.merge_ms"] = span_ms("table.merge")
        m["table.scan_ms"] = p50([o.ms for o in ops
                                  if o.kind in ("scan", "late_scan")])
        m["table.to_arrow_ms"] = span_ms("table.to_arrow")
        m["table.compact_ms"] = span_ms("table.compact")
        m["table.expire_ms"] = span_ms("table.expire_snapshots")
        merges = [f for f in self.facts if f[1] == "table.merge"
                  and f[2] in op_ids]
        m["table.files_added"] = p50([f[3]["added"] for f in merges])
        m["table.files_removed"] = p50([f[3]["removed"] for f in merges])
        kind_of = {o.op_id: o.kind for o in ops}
        for key, kind in (("pruning.merge_touched_ratio", "commit"),
                          ("pruning.late_merge_touched_ratio",
                           "late_commit")):
            m[key] = p50([f[3]["removed"] / max(f[3]["live_before"], 1)
                          for f in merges if kind_of.get(f[2]) == kind])
        plans = [f[3] for f in self.facts if f[1] == "table.plan_files"
                 and f[2] in op_ids]
        m["pruning.plan_ms"] = span_ms("table.plan_files")
        m["pruning.kept_ratio"] = (
            sum(p["kept"] for p in plans) / max(sum(p["live"] for p in plans),
                                                1))
        if hasattr(wl, "layer_metrics"):
            m.update((k, v) for k, v in wl.layer_metrics(self, ops, p50)
                     .items() if k in m)
        for kind, key in (("minhash", "llm.dedup.minhash_ms"),
                          ("simhash", "llm.dedup.simhash_ms"),
                          ("clusters", "llm.dedup.clusters_ms"),
                          ("ann_lsh", "llm.similarity.ann_lsh_ms"),
                          ("semdedup", "llm.similarity.semdedup_ms")):
            m[key] = op_ms(kind)
        written = [f[3]["bytes"] for f in self.facts
                   if f[1] in ("table.merge", "table.compact")
                   and f[2] in op_ids]
        landed = getattr(wl, "landed_bytes", 0)
        m["table.write_amp"] = sum(written) / landed if landed else 0.0

        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.stop()  # flushes the event log
        log = self._event_log()
        attributed = self._attribute(log, ops)
        m.update(self._spark_metrics(log, attributed, ops))
        out_dir = os.path.join(os.path.dirname(os.path.dirname(self.work)),
                               "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{facts['workload']}-"
                               f"{facts['seed']}-spans.json"), "w") as fh:
            json.dump({"epoch_offset": self.epoch_offset,
                       "fields": ["id", "name", "start", "end", "parent",
                                  "op"],
                       "spans": self.spans, "facts": self.facts}, fh)
        facts["layers"] = m
        return {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}

    def _spark_metrics(self, log, attributed, ops) -> dict:
        n = max(len(ops), 1)
        per_op_jobs: dict[str, list[int]] = {}
        for jid, op in attributed.items():
            per_op_jobs.setdefault(op, []).append(jid)
        job_of_stage = log["stage_job"]
        sums = dict.fromkeys(
            ("tasks", "run", "cpu", "gc", "in", "out", "shuffle", "fetch",
             "spill", *PYTHON_METRICS.values()), 0.0)
        stages = set()
        for stage, info, tm in log["tasks"]:
            if job_of_stage.get(stage) not in attributed:
                continue
            stages.add(stage)
            sums["tasks"] += 1
            sums["run"] += tm.get("Executor Run Time", 0)
            sums["cpu"] += tm.get("Executor CPU Time", 0) / 1e6
            sums["gc"] += tm.get("JVM GC Time", 0)
            sums["in"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            sums["out"] += (tm.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            sums["shuffle"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            sums["fetch"] += sr.get("Fetch Wait Time", 0)
            sums["spill"] += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0))
            for acc in info.get("Accumulables", []):
                key = PYTHON_METRICS.get(acc.get("Name"))
                if key is not None:
                    sums[key] += float(acc.get("Update") or 0)
        out = {
            "spark.jobs": len(attributed) / n,
            "spark.stages": len(stages) / n,
            "spark.tasks": sums["tasks"] / n,
            "spark.task_run_ms": sums["run"] / n,
            "spark.task_cpu_ms": sums["cpu"] / n,
            "spark.gc_ms": sums["gc"] / n,
            "spark.input_bytes": sums["in"] / n,
            "spark.output_bytes": sums["out"] / n,
            "spark.shuffle_write_bytes": sums["shuffle"] / n,
            "spark.fetch_wait_ms": sums["fetch"] / n,
            "spark.spill_bytes": sums["spill"] / n,
        }
        for key in PYTHON_METRICS.values():
            out[key] = sums[key] / n
        # driver self time: op wall minus the union of its jobs' spans
        selfs = []
        for o in ops:
            t0 = o.start + self.epoch_offset
            t1 = o.end + self.epoch_offset
            iv = sorted((max(log["jobs"][j]["start"], t0),
                         min(log["jobs"][j]["end"] or t1, t1))
                        for j in per_op_jobs.get(o.op_id, []))
            busy, cur = 0.0, None
            for a, b in iv:
                if cur is None or a > cur[1]:
                    if cur is not None:
                        busy += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur is not None:
                busy += cur[1] - cur[0]
            selfs.append(max(o.ms - busy * 1000, 0.0))
        out["driver.self_ms"] = median(selfs) if selfs else 0.0
        return out


def _unwrapped_plan(table, version=None):
    fn = type(table).plan_files
    return getattr(fn, "__wrapped__", fn)(table, None, version)

