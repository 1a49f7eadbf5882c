"""Changelog pipeline: sources → parse → continuous MERGE → CDC read-back.

Maps the reference's Flink streaming surface onto Structured Streaming:

- S8 socket source (``IcebergStream.java:87-88``) → ``format("socket")``.
- S10 faker/rate source (``FakerSource.java:42-64``) → ``format("rate")``
  plus column expressions (sha2 hash, random I/D kind).
- P9/P10 arity filter + split/cast parse (``IcebergStream.java:90-98``).
- W5/W6 changelog upsert sink (``FlinkSink...equalityFieldColumns``,
  ``IcebergStream.java:116-120``; Paimon dedup merge engine,
  ``PaimonStream.java:90-91``) → ``foreachBatch`` + :meth:`LakeTable.merge`.
- T1/T2 continuous execution with checkpoint-interval commits
  (``enableCheckpointing(5000)``, ``IcebergStream.java:84``) →
  ``trigger(processingTime='5 seconds')`` + ``checkpointLocation``; each
  micro-batch commit is one atomic table snapshot, exactly the Flink
  checkpoint→Iceberg-commit cadence.
- W7 changelog read-back (``toChangelogStream``, ``PaimonStream.java:97-100``)
  → :func:`diff_versions` (CDF-style row diff between snapshots).

Scale: the per-batch MERGE joins a micro-batch (small, broadcastable)
against only the target files it touches; state lives in the table, not in
executor memory — the same reason the reference keeps its only state in the
keyed table (SURVEY §2.9).
"""

from __future__ import annotations

import dataclasses
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import MapType

from lakeshed.table import LakeTable

# the reference's line protocol: "<kind>,<key>,<payload>"
# (FakerSource emits {type∈{I,D}, block_number, hash}; IcebergStream.java:93-98)
CHANGELOG_SCHEMA = "type string, block_number int, hash string"


def socket_lines(spark: SparkSession, host: str = "localhost",
                 port: int = 9999) -> DataFrame:
    """S8 — unbounded text lines from a socket
    (``SocketTextStreamFunction``, IcebergStream.java:87-88)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def rate_changelog_source(spark: SparkSession, rows_per_second: int = 10
                          ) -> DataFrame:
    """S10 — the FakerSource rebuilt on the rate source: one row per tick
    with ``{type∈{I,D}, block_number∈[0,10), hash=sha256}``
    (FakerSource.java:53-64). Emits pre-formatted CSV lines so the same
    parse path (P9/P10) serves socket, rate, and test-file sources."""
    rate = spark.readStream.format("rate") \
        .option("rowsPerSecond", rows_per_second).load()
    return rate.select(
        F.concat_ws(
            ",",
            F.when(F.rand(seed=42) < 0.5, "I").otherwise("D"),
            (F.col("value") % 10).cast("string"),
            F.sha2(F.col("value").cast("string"), 256),
        ).alias("value")
    )


def parse_changelog(lines: DataFrame, seq: str | None = None) -> DataFrame:
    """P9+P10 — malformed-record filter (arity == 3) + split/cast parse
    (IcebergStream.java:90-98), plus an arrival-sequence column so a key
    appearing as I-then-D inside one batch nets to delete (SURVEY §7.3).

    ``seq`` names an input column that already carries the arrival order
    (the Kafka per-partition ``offset``) and is passed through as
    ``__seq``. Without it, batch callers get a
    ``monotonically_increasing_id`` stamped here; streaming frames can't
    evaluate that, so ``changelog_upsert`` stamps per micro-batch instead
    (same contract: arrival order within batch)."""
    parts = F.split(F.col("value"), ",")
    cols = [
        parts.getItem(0).alias("type"),
        # try_cast: malformed keys ("I,NaN,px") must become NULL and be
        # dropped by the filter below under BOTH ANSI modes — plain cast
        # throws CAST_INVALID_INPUT on the driver's ANSI-on session.
        parts.getItem(1).try_cast("int").alias("block_number"),
        parts.getItem(2).alias("hash"),
        F.current_timestamp().alias("ts"),
    ]
    if seq is not None:
        cols.append(F.col(seq).alias("__seq"))
    out = (
        lines.where(F.size(parts) == 3)
        .select(*cols)
        .where(F.col("block_number").isNotNull() & F.col("type").isin("I", "D"))
    )
    if seq is None and not lines.isStreaming:
        out = out.withColumn("__seq", F.monotonically_increasing_id())
    return out


def changelog_upsert(
    parsed: DataFrame,
    table: LakeTable,
    *,
    key: str = "block_number",
    checkpoint: str,
    trigger: dict | None = None,
    batch_hook: Callable[[DataFrame, int], None] | None = None,
) -> StreamingQuery:
    """W5/W6 — continuous equality-delete upsert: every micro-batch MERGEs
    into the table (matched+D → delete, matched → update, unmatched+I →
    insert; last arrival per key wins within the batch).

    ``trigger`` defaults to ``{"processingTime": "5 seconds"}`` — the
    reference's 5000 ms checkpoint cadence (IcebergStream.java:84); tests
    pass ``{"availableNow": True}`` to drain bounded input exactly once.
    """
    target_cols = [f.name for f in table.schema_fields()]

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if "__seq" not in batch.columns:
            # arrival order within the micro-batch (Kafka callers would use
            # the offset column instead — SURVEY §7.3)
            batch = batch.withColumn(
                "__seq", F.monotonically_increasing_id()
            )
        table.merge(
            batch.select(*target_cols, "type", "__seq")
            if "type" not in target_cols
            else batch.select(*target_cols, "__seq"),
            on=key,
            when_matched_update={
                c: f"s.`{c}`" for c in target_cols if c != key
            },
            when_matched_delete="s.type = 'D'",
            when_not_matched_insert="type <> 'D'",
            source_order="__seq",
        )
        if batch_hook is not None:
            batch_hook(batch, batch_id)

    writer = (
        parsed.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    writer = writer.trigger(**(trigger or {"processingTime": "5 seconds"}))
    return writer.start()


def windowed_rollup(events: DataFrame, *, ts_col: str = "timestamp",
                    key_col: str = "event", window: str = "1 hour",
                    watermark: str = "10 minutes") -> DataFrame:
    """Clickstream tumbling-window analytics — the datagen's declared
    purpose (datagen/datagen.py:28-51) in streaming form: watermarked
    event-time window + per-kind counts. Late rows beyond the watermark
    drop; state is bounded by (windows in flight × keys). Works on batch
    frames too (the watermark is a no-op there), so the batch oracle is
    the same expression."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            key_col,
            "cnt",
        )
    )


def diff_versions(table: LakeTable, v_from: int, v_to: int | None = None
                  ) -> DataFrame:
    """W7 — CDC read-back: row-level diff between two snapshots with a
    ``_change_type`` column (insert/delete; an update appears as its
    delete+insert pair — the ±U encoding of ``ChangelogMode.all()``,
    PaimonStream.java:86).

    Cost is O(changed data), not O(snapshot): the commit log knows the
    exact file delta between the versions, and a file live in BOTH
    snapshots contributes the same row multiset to both ``exceptAll``
    legs — its rows cancel exactly — so both legs scan ONLY the files
    added/removed between v_from and v_to. Deriving the delta from the
    two replayed live states (rather than walking the commit chain)
    keeps this exact across checkpoint boundaries and rollbacks too.
    This mirrors Delta CDF's file-level change tracking (SURVEY §2.2 W7).

    The multiset identity: count_new(x) − count_old(x)
    = (unchanged(x) + added(x)) − (unchanged(x) + removed(x))
    = added(x) − removed(x), so diffing the added files against the
    removed files yields the same rows as diffing the full snapshots.
    Rows from removed files are adapted to v_to's schema (same as a full
    read would after evolution), so both legs always align. A reverse
    diff (``v_from > v_to`` — e.g. diffing back across a rollback) works
    too: schema versions accumulate monotonically in the commit log, so a
    "removed" file written AFTER v_to carries a schema v_to's commit has
    never seen; the read below looks schemas up in the union of both
    commits' schema maps while still adapting every row to v_to's
    current schema."""
    v_to = v_to if v_to is not None else table.head()
    # one shared memo, lower version replayed first: the two states walk
    # overlapping chains, so the second replay seeds from the first's
    # nearest memoized ancestor instead of re-reading the same commit
    # JSONs (r11 review wave 12)
    memo: dict = {}
    if v_from <= v_to:
        commit_from, live_old = table._state(v_from, _memo=memo)
        commit_new, live_new = table._state(v_to, _memo=memo)
    else:
        commit_new, live_new = table._state(v_to, _memo=memo)
        commit_from, live_old = table._state(v_from, _memo=memo)
    new_paths = {a.path for a in live_new}
    old_paths = {a.path for a in live_old}
    added = [a for a in live_new if a.path not in old_paths]
    removed = [a for a in live_old if a.path not in new_paths]
    lookup = dataclasses.replace(
        commit_new, schemas={**commit_from.schemas, **commit_new.schemas}
    )
    new_rows = table._read_adds(lookup, added)
    old_rows = table._read_adds(lookup, removed)
    cols = new_rows.columns
    # EXCEPT cannot compare maps: both legs carry a map column as its
    # sorted entries, turned back into the map after the diff
    maps = [f.name for f in new_rows.schema.fields
            if isinstance(f.dataType, MapType)]
    if maps:
        new_rows, old_rows = (df.withColumns({
            c: F.array_sort(F.map_entries(F.col(f"`{c}`"))) for c in maps
        }) for df in (new_rows, old_rows))
    inserts = new_rows.exceptAll(old_rows).select(
        F.lit("insert").alias("_change_type"), *cols
    )
    deletes = old_rows.exceptAll(new_rows).select(
        F.lit("delete").alias("_change_type"), *cols
    )
    out = inserts.unionByName(deletes)
    if maps:
        out = out.withColumns({
            c: F.map_from_entries(F.col(f"`{c}`")) for c in maps})
    return out
