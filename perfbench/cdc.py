"""cdc_upsert: continuous changelog upsert with read-backs beside it.

One long-running ``changelog_upsert`` query ingests a text-file stream
(one file per micro-batch). Each round lands one generated changelog
file atomically, waits for that batch's hook (committed and visible),
then reads the newest key range back through ``LakeTable.scan`` and
``LakeTable.to_arrow``. A rotation is six rounds, the sixth a late
correction, and ends with a CDC diff read-back, a ``Catalog.sql``
aggregate and table maintenance (compact + expire, timed as one op), so
the table's files and log grow for six commits between maintenances.
"""

from __future__ import annotations

import json
import os
import queue
import shutil
import sys
import time

from perfbench import gen
from perfbench.measure import tail

READ_SPAN = 4_000  # keys read back per round, ending at the key head
COMMIT_TIMEOUT_S = 60.0


class CdcUpsert:
    name = "cdc_upsert"
    rotation_s = 22.0  # nominal rotation wall time on 4 cores

    def __init__(self, spark, inputs: str, work: str, rec, tracer=None):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.rec = rec
        self.tracer = tracer
        self.oracle = gen.CdcOracle(inputs)
        self.head = gen.CDC_ROWS  # next insert key
        self.round = 0
        self.commits: queue.Queue = queue.Queue()
        # timed batches: batch id -> (landed file, lines, oracle's parsed)
        self.batch_rows: dict[int, tuple[str, int, int]] = {}
        self.dropped: dict[int, tuple[int, int]] = {}  # program, oracle
        self.landed_bytes = 0
        self.progress: list[dict] = []
        self.query = None
        self.grown = (0, 0)  # live files, log entries before maintenance

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        from lakeshed.catalog import Catalog
        from lakeshed.streaming import changelog

        wh = os.path.join(self.work, "wh")
        shutil.rmtree(wh, ignore_errors=True)
        self.cat = Catalog(self.spark, wh)
        self.cat.create_database("cdc")
        df = self.spark.read.parquet(
            os.path.join(self.inputs, "initial.parquet"))
        self.table = self.cat.create_table("cdc.blocks", df)
        total = sum(a.bytes for a in self.table.plan_files())
        self.target = total // gen.CDC_FILES + 1
        self.table.compact(target_size_bytes=self.target,
                           sort_by="block_number")
        # the one streaming query the whole run shares
        self.src = os.path.join(self.work, "src")
        self.stage = os.path.join(self.work, "stage")
        for d in (self.src, self.stage):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        lines = (self.spark.readStream.format("text")
                 .option("maxFilesPerTrigger", "1").load(self.src))
        self.query = changelog.changelog_upsert(
            changelog.parse_changelog(lines), self.table,
            checkpoint=os.path.join(self.work, "checkpoint"),
            trigger={"processingTime": "0 seconds"},
            batch_hook=self._hook)

    def _hook(self, _batch, batch_id: int) -> None:
        self.commits.put((batch_id, time.perf_counter()))

    # ------------------------------------------------------------- ops

    def _round(self) -> None:
        r = self.round
        self.round += 1
        name = f"{r:05d}.txt"
        staged = os.path.join(self.stage, name)
        shutil.copyfile(os.path.join(self.inputs, "changelog", name), staged)
        kind = "late_commit" if gen.cdc_late(r) else "commit"
        op_id = self.rec.next_id(kind)
        if self.tracer is not None:
            self.tracer.begin_op(op_id)
        t0 = time.perf_counter()
        os.rename(staged, os.path.join(self.src, name))  # atomic landing
        try:
            batch_id, t1 = self.commits.get(timeout=COMMIT_TIMEOUT_S)
            ok = True
        except queue.Empty:
            batch_id, t1, ok = -1, time.perf_counter(), False
        if self.tracer is not None:
            self.tracer.end_op()
            self.tracer.bind_batch(batch_id, op_id)
        in0, parsed0 = self.oracle.rows_in, self.oracle.rows_parsed
        self.oracle.apply(r)
        if not self.rec.warm:
            landed = os.path.join(self.src, name)
            self.landed_bytes += os.path.getsize(landed)
            self.batch_rows[batch_id] = (landed, self.oracle.rows_in - in0,
                                         self.oracle.rows_parsed - parsed0)
        self.rec.record(op_id, kind, t0, t1, ok)
        self.head = max(self.head, max(self.oracle.state) + 1)
        lo = self.head - READ_SPAN
        pred = f"block_number >= {lo} AND block_number < {self.head}"
        want = self.oracle.count_range(lo, self.head)
        # read-backs after a late correction read a differently shaped
        # table, so they are kinds of their own (one mode per kind)
        late = "late_" if kind == "late_commit" else ""
        self.rec.run(late + "scan", lambda: self.table.scan(pred).count(),
                     lambda n: n == want)
        self.rec.run(late + "to_arrow",
                     lambda: self.table.to_arrow(pred).num_rows,
                     lambda n: n == want)

    def rotation(self) -> None:
        self._cycle(gen.CDC_ROTATION_ROUNDS)

    def warm(self) -> None:
        self._cycle(gen.CDC_WARM_ROUNDS)

    def _cycle(self, rounds: int) -> None:
        """``rounds`` rounds, then diff, SQL aggregate and maintenance."""
        from lakeshed.streaming import changelog

        if self.round + rounds > gen.CDC_ROUNDS:
            raise RuntimeError(
                f"only {gen.CDC_MAX_ROTATIONS} rotations of changelog files "
                "are generated; pass fewer --seconds")
        v0 = self.table.head()
        rows0 = len(self.oracle.state)
        for _ in range(rounds):
            self._round()
        want_rows = len(self.oracle.state)

        def diff():
            out = changelog.diff_versions(self.table, v0).groupBy(
                "_change_type").count().collect()
            return {r["_change_type"]: r["count"] for r in out}

        self.rec.run("diff", diff,
                     lambda d: d.get("insert", 0) - d.get("delete", 0)
                     == want_rows - rows0)
        want_max = max(self.oracle.state)
        self.rec.run(
            "sql",
            lambda: self.cat.sql("SELECT count(*) AS n, max(block_number) "
                                 "AS mx FROM cdc.blocks").collect()[0],
            lambda r: (r["n"], r["mx"]) == (want_rows, want_max))
        if self.tracer is not None:
            # the layout maintenance is about to reset
            self.grown = (len(self.table.plan_files()),
                          len(os.listdir(self.table.log_dir)))
        self.rec.run("maintain", self._maintain,
                     lambda _v: self.table.count_rows() == want_rows)

    def _maintain(self):
        """Table maintenance as one op: rewrite into the set-up layout,
        then expire every snapshot but the head and delete its files."""
        self.table.compact(target_size_bytes=self.target,
                           sort_by="block_number")
        return self.table.expire_snapshots(retain_last=1)

    # ----------------------------------------------------------- finish

    def finish(self) -> bool:
        """Stop the stream; the final table must equal the replay. In the
        traced run, the rows the program drops from each timed batch's
        file (its lines minus the rows ``parse_changelog`` keeps, re-run
        here as a batch read so that the stream is not disturbed) must
        equal the oracle's. Spark's ``numInputRows`` cannot serve: it
        counts a micro-batch once per read of it (``isEmpty``, merge)."""
        if self.query is not None:
            self.progress = [json.loads(p.json)
                             for p in self.query.recentProgress]
            self.query.stop()
        got = self.table.to_arrow()
        state = dict(zip(got.column("block_number").to_pylist(),
                         got.column("hash").to_pylist()))
        ok = state == self.oracle.state
        if self.tracer is not None:
            from lakeshed.streaming import changelog

            for b, (path, lines, parsed) in self.batch_rows.items():
                kept = changelog.parse_changelog(
                    self.spark.read.text(path)).count()
                self.dropped[b] = (lines - kept, lines - parsed)
            bad = {b: v for b, v in self.dropped.items() if v[0] != v[1]}
            if bad:
                print(f"perfbench: dropped rows (program, oracle) differ: "
                      f"{bad}", file=sys.stderr)
            ok &= not bad
        return ok

    def layer_metrics(self, tracer, ops, p50) -> dict:
        """Streaming and table-layout metrics of the traced run."""
        commits = [o.ms for o in ops if o.kind in ("commit", "late_commit")]
        lat = {b: o.ms for o in ops if o.kind in ("commit", "late_commit")
               for b, op in tracer.batches.items() if op == o.op_id}
        prog = [p for p in self.progress if p.get("batchId") in lat]
        dur = [p.get("durationMs", {}) for p in prog]
        live = self.table.plan_files()
        live_bytes = sum(a.bytes for a in live)
        on_disk = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(self.table.path) for f in fs)
        return {
            "streaming.commit_p50_ms": p50(commits),
            "streaming.commit_tail_ms": tail(commits)["value"],
            "streaming.trigger_ms": p50([d.get("triggerExecution", 0)
                                         for d in dur]),
            "streaming.add_batch_ms": p50([d.get("addBatch", 0)
                                           for d in dur]),
            "streaming.log_ms": p50([d.get("walCommit", 0)
                                     + d.get("commitOffsets", 0)
                                     for d in dur]),
            # the hook fires when addBatch ends; only commitOffsets
            # follows it inside the trigger
            "streaming.pickup_ms": p50(
                [lat[p["batchId"]] - p["durationMs"]["triggerExecution"]
                 + p["durationMs"].get("commitOffsets", 0) for p in prog]),
            "streaming.rows_in": sum(n for b, (_, n, _) in
                                     self.batch_rows.items() if b in lat),
            "streaming.rows_dropped": sum(a for a, _ in
                                          self.dropped.values()),
            "table.live_files": self.grown[0],
            "table.log_entries": self.grown[1],
            "table.space_amp": on_disk / live_bytes,
        }
