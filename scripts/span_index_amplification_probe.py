"""Span-index read-amplification probe (r14, VERDICT r13 #5).

The span index is append-only per-hash partial aggregates: after B
ingests of a corpus whose boilerplate recurs in every batch, a shared
hash carries B partial rows, and every mark
(``batch_duplicate_spans``) semi-joins + re-folds ALL of them — read
amplification grows with ingest count at FIXED corpus size. This
probe measures that curve and the flattening ``compact_span_index``
buys (the row-level analog of ``rewrite_data_files``).

Fixture: N docs drawn from a pool of M distinct 20-token lines
(window 16 → 5 window hashes per line, 5·M distinct hashes total).
Every batch of the B-way split contains every line (N/B ≫ M), so each
ingest appends one partial row per hash: index rows = 5·M·B exactly —
the amplification is planted, not hoped for. The corpus itself never
changes across rungs; only HOW MANY batches delivered it does, which
isolates the accretion cost a retriable 100 TB ingest pipeline pays
for arriving in many small commits.

Per rung B: rebuild the index as 1 build + (B−1) ledgered updates,
measure the mark wall (bench method: warm shapes, min-of-2) and the
index row/file counts, then ``compact_span_index`` and re-measure —
same mark semantics (the fold is associative), one row per hash.

Appends a section to SCALING.md. Keep the box idle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from lakeshed.catalog import Catalog
from lakeshed.llm import dedup
from lakeshed.session import get_spark

BATCHES = [int(x) for x in
           os.environ.get("AMP_BATCHES", "1,4,16,64").split(",")]
N_DOCS = int(os.environ.get("AMP_DOCS", "384000"))
M_LINES = int(os.environ.get("AMP_LINES", "6000"))
WINDOW = 16
# the probe batch is the MINIMUM line-covering set (one doc per line):
# its own windowing cost is then small and fixed, so the measured wall
# is dominated by the part that actually amplifies — the semi-join +
# fold over the accreted index rows (a larger probe buries that signal
# under its own O(probe tokens) windowing, measured r14)
PROBE_DOCS = int(os.environ.get("AMP_PROBE_DOCS", str(M_LINES)))


def _corpus(spark):
    """N docs over M distinct 20-token lines: doc i carries line
    i % M, so every contiguous 1/B slice of the id space contains
    every line (N/B >= M) and every ingest touches every hash."""
    assert N_DOCS // max(BATCHES) >= M_LINES, \
        "every batch must contain every line"
    return spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit(f"w{j}L"), (F.col("id") % M_LINES)
                     .cast("string"))
            for j in range(20)
        ]).alias("text"),
    )


def _build_at(spark, docs, b: int):
    """1 build + (b-1) ledgered updates over equal id-range slices of
    the SAME corpus."""
    wh = tempfile.mkdtemp(prefix="lakeshed-ampprobe-")
    cat = Catalog(spark, wh)
    step = N_DOCS // b
    slices = [docs.where((F.col("doc_id") >= i * step)
                         & (F.col("doc_id") < ((i + 1) * step
                                               if i < b - 1 else N_DOCS)))
              for i in range(b)]
    tbl = dedup.build_span_index(
        slices[0], cat, "default.amp_idx", window=WINDOW,
        batch_id="b0")
    for i, sl in enumerate(slices[1:], start=1):
        dedup.update_span_index(tbl, sl, batch_id=f"b{i}",
                                window=WINDOW)
    return tbl, wh


def main() -> None:
    spark = get_spark("span-amp-probe")
    spark.sparkContext.setLogLevel("ERROR")
    from bench import timed

    def best2(run):  # min of 2 executions, warm shapes assumed
        return round(min(timed(run), timed(run)), 2)

    docs = _corpus(spark).persist()
    docs.count()
    probe = docs.where(F.col("doc_id") < PROBE_DOCS).persist()
    probe.count()

    # warm the shapes once (JIT/codegen/first-touch)
    warm_tbl, warm_wh = _build_at(spark, docs, 1)
    dedup.batch_duplicate_spans(
        probe, warm_tbl.read(), window=WINDOW).count()
    shutil.rmtree(warm_wh, ignore_errors=True)

    # the probe batch's window hashes, computed ONCE outside every
    # timer: `fold` then measures ONLY the amplified path — scanning
    # the accreted index rows, semi-joining them to the probe's hash
    # set and re-summing the partials — with zero probe-windowing cost
    # in the timed region. The end-to-end `mark` is kept alongside for
    # context; at local scale its ~1.2-1.5 s of fixed job/windowing
    # overhead buries the fold signal until B is large.
    probe_h = dedup._span_occurrences(
        probe, WINDOW, "text", "doc_id").select("h").distinct().persist()
    probe_h.count()

    rows = []
    for b in BATCHES:
        tbl, wh = _build_at(spark, docs, b)
        idx_rows = tbl.read().count()
        n_files = len(tbl._state(tbl.head())[1])
        mark = lambda: dedup.batch_duplicate_spans(
            probe, tbl.read(), window=WINDOW).count()
        fold = lambda: (
            tbl.read().join(probe_h, "h", "left_semi")
            .groupBy("h")
            .agg(F.sum("occurrences").alias("o"),
                 F.min(F.struct("first_id", "first_pos")).alias("f"))
            .where(F.col("o") > 1).count())
        fold_before = best2(fold)
        mark_before = best2(mark)
        dedup.compact_span_index(tbl)
        idx_rows_after = tbl.read().count()
        fold_after = best2(fold)
        mark_after = best2(mark)
        rows.append(dict(
            b=b, idx_rows=idx_rows, files=n_files,
            fold_before=fold_before, mark_before=mark_before,
            idx_rows_compact=idx_rows_after,
            fold_after=fold_after, mark_after=mark_after))
        print(json.dumps(rows[-1]), file=sys.stderr)
        shutil.rmtree(wh, ignore_errors=True)
    probe_h.unpersist()

    docs.unpersist()
    probe.unpersist()

    r0, rN = rows[0], rows[-1]
    amp = round(rN["idx_rows"] / rN["idx_rows_compact"], 1)
    fold_ratio = round(rN["fold_before"] / r0["fold_before"], 2)
    fold_after_ratio = round(rN["fold_after"] / r0["fold_after"], 2)
    mark_ratio = round(rN["mark_before"] / r0["mark_before"], 2)
    mark_after_ratio = round(rN["mark_after"] / r0["mark_after"], 2)

    lines = [
        "",
        "## Span-index read amplification vs ingest count (r14, "
        "VERDICT r13 #5 — `scripts/span_index_amplification_probe.py`)",
        "",
        f"Fixed corpus ({N_DOCS} docs over {M_LINES} distinct lines — "
        f"{rows[0]['idx_rows_compact']} distinct window hashes), "
        "delivered as B ledgered ingests; every batch contains every "
        "line, so index rows = hashes × B exactly. `fold` times ONLY "
        "the amplified path (index scan → semi-join to a precomputed "
        "probe-hash set → partial-row re-sum); `mark` is the "
        f"end-to-end `batch_duplicate_spans` of a fixed {PROBE_DOCS}-"
        "doc probe (its ~constant windowing/job overhead dominates at "
        "local scale until B is large). Bench method (warm shapes, "
        "min-of-2).",
        "",
        "| ingests B | index rows | files | fold t (s) | mark t (s) | "
        "rows after compact | fold t after (s) | mark t after (s) |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['b']} | {r['idx_rows']} | {r['files']} | "
            f"{r['fold_before']} | {r['mark_before']} | "
            f"{r['idx_rows_compact']} | {r['fold_after']} | "
            f"{r['mark_after']} |")
    lines += [
        "",
        f"- append-only FOLD cost grows **{fold_ratio}×** from "
        f"B={r0['b']} to B={rN['b']} ({amp}× the rows at the top "
        "rung); end-to-end mark grows "
        f"**{mark_ratio}×**. The accreted partial rows are semi-"
        "joined and re-folded on EVERY mark, and at a 100 TB "
        "pipeline's commit cadence B is unbounded — this curve is "
        "the cost of never compacting.",
        f"- post-compaction: fold **{fold_after_ratio}×**, mark "
        f"**{mark_after_ratio}×** over the same ladder — flat up to "
        "noise at one row per hash on every rung: compaction "
        "restores B-independence, the property the "
        "`rewrite_data_files` analogy promises.",
        "- operational rule of thumb: compact when `.files`/row "
        "counts show the partial-row multiple drifting past ~a few× "
        "the distinct-hash count — the same trigger discipline as "
        "file compaction, applied to rows.",
        "",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SCALING.md"), "a") as fh:
        fh.write("\n".join(lines))
    print(json.dumps(rows))


if __name__ == "__main__":
    main()
