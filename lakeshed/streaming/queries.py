"""Streaming CORRECTNESS queries — the Flink surface through the gate.

Each entry runs a REAL Structured Streaming query (availableNow trigger,
checkpointed) whose final state is deterministic and SQL-expressible, so
the driver's DuckDB oracle can hash-compare it like any batch query:

- ``stream_changelog_upsert`` — the IcebergStream.java pipeline end to end:
  text-file source (socket stand-in) → arity filter → parse → foreachBatch
  MERGE with equality-delete semantics (IcebergStream.java:87-122).
- ``stream_windowed_rollup`` — watermarked tumbling-window aggregation over
  a file stream; at rest equals the batch hourly rollup.
- ``stream_cdc_diff`` — W7 changelog read-back: row diff between snapshots
  after UPDATE/DELETE (toChangelogStream, PaimonStream.java:97-100).

Determinism notes: the changelog encodes its arrival sequence in the
payload (``p<event_id>``) and is written as ONE text file, so one
availableNow batch sees a total order and last-wins-per-key replay equals
the oracle's window; the rollup runs in complete mode so the single batch
retains every window.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeshed.catalog import Catalog
from lakeshed.io import load_star
from lakeshed.queries import qdef
from lakeshed.session import session_with
from lakeshed.streaming.changelog import (
    changelog_upsert,
    diff_versions,
    parse_changelog,
    windowed_rollup,
)
from lakeshed.streaming.stateful import (
    sessionize_stream,
    with_flush_sentinels,
)

# Fixture inputs are plan-construction SETUP (deterministic projections of
# the sf tables), not the streaming operator under test — write each once
# per sf_dir and reuse, like queries._VEC_CACHE. Checkpoints, target
# tables, and the streaming queries themselves stay fresh per call.
_FIXTURE_CACHE: dict[tuple[str, str], str] = {}

# which source the last stream_changelog_upsert run used ("socket" when a
# localhost listener was allowed, "file" after fallback) — observability
# for tests and the gate record; never consulted by the pipeline itself
LAST_CHANGELOG_SOURCE: str | None = None


def _is_socket_transport_failure(e: BaseException) -> bool:
    """True iff a StreamingQueryException's failure originated in the TCP
    socket SOURCE itself: a ``TextSocket*`` source-class stack frame on
    some throwable in the JVM cause chain. A failed source connect/read
    always carries those frames (the ``java.net.*`` exception is raised
    inside ``TextSocketMicroBatchStream``'s initialize/read path), so
    this is not over-tight — while a ``java.net.*`` exception ALONE is
    not evidence: a foreachBatch pipeline writing to a downed network
    service (JDBC, metastore) fails with the same exception classes and
    must SURFACE, not silently rerun via the file path (r12 review: the
    first cause-chain version treated any java.net.* in the chain as
    transport and re-opened exactly that masking).

    r11 ADVICE context: the original gate substring-matched generic
    words ('connection', 'connect') in the rendered message. Keying on
    the socket source's own stack frames decides by WHERE the failure
    arose, not what the message says."""
    jt = getattr(e, "_origin", None)
    hops = 0
    while jt is not None and hops < 16:
        try:
            frames = jt.getStackTrace()
        except Exception:
            frames = []
        for fr in frames:
            if "TextSocket" in fr.getClassName():
                return True
        try:
            jt = jt.getCause()
        except Exception:
            break
        hops += 1
    # Connect-mode / no-JVM-throwable fallback: the captured exception
    # only carries rendered text. CRITICAL (r12 review, verified against
    # the spark-sql jar): StreamingQueryException.toString() embeds
    # queryDebugString, whose committed/available-offsets section prints
    # 'TextSocketV2[host: ...]' for EVERY failure of a socket-source
    # query — so a bare substring match is always-true and would reopen
    # the foreachBatch-bug masking. Match only STACK-FRAME-shaped lines
    # ('at <cls>...' with TextSocket in the class position), which the
    # debug string never produces but a genuine source failure's
    # rendered trace always does.
    text = "%s\n%s" % (str(e), getattr(e, "_stackTrace", "") or "")
    import re as _re

    return bool(_re.search(r"(?m)^\s*at\s+\S*TextSocket", text))


def _run_to_memory(df: DataFrame, mode: str, ckpt: str,
                   prefix: str) -> DataFrame:
    """THE memory-sink runner every streaming gate shares (r11 review
    wave 12: five verbatim writeStream blocks differing only in output
    mode were one awaitTermination tweak away from diverging) — one
    availableNow pass on ``df``'s session (a :func:`_state_session` for
    the stateful gates), read back from the named in-memory table."""
    name = prefix + uuid.uuid4().hex[:12]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def _state_session(spark: SparkSession) -> SparkSession:
    """The session a stateful gate builds and starts its stream on: a
    clone of the caller's with 8 shuffle partitions, so the caller's conf
    is never written — a thread planning on the caller's session
    meanwhile keeps its own partition count. Each stateful operator commits one
    state store PER shuffle partition PER micro-batch, so state
    partitions are sized to state volume, not to the session's compute
    parallelism — at these gates' state sizes, 32 partitions spent
    multiples of the query's wall time on store commits (measured:
    stream-stream join 7.7 s → 2.6 s). At 100 TB you'd raise the number
    to spread state; same lever. The checkpoint pins the count after the
    first start."""
    return session_with(spark, {"spark.sql.shuffle.partitions": "8"})


def _fixture_dir(kind: str, sf_dir: str, write) -> str:
    key = (kind, sf_dir)
    cached = _FIXTURE_CACHE.get(key)
    # re-validate: a tmpdir can be cleaned by the OS (or the sf fixtures
    # regenerated) mid-process — silently replaying a stale/missing input
    # would corrupt the gate. Rewrite if the path vanished or is empty.
    if cached is not None and not (
        os.path.isdir(cached) and os.listdir(cached)
    ):
        _FIXTURE_CACHE.pop(key)
        cached = None
    if cached is None:
        path = tempfile.mkdtemp(prefix=f"lakeshed-fx-{kind}-")
        write(path)
        _FIXTURE_CACHE[key] = path
    return _FIXTURE_CACHE[key]


@qdef(
    "stream_changelog_upsert",
    """
    WITH tgt AS (
      SELECT user_id, 'p' || CAST(event_id AS VARCHAR) AS hash FROM (
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id <= 1500
      ) WHERE rn = 1
    ), src AS (
      SELECT user_id, 'p' || CAST(event_id AS VARCHAR) AS hash,
             CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'I' END AS op
      FROM (
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id > 1500 AND event_id <= 3000
      ) WHERE rn = 1
    )
    SELECT CAST(coalesce(s.user_id, t.user_id) AS INTEGER) AS block_number,
           coalesce(s.hash, t.hash) AS hash
    FROM tgt t FULL JOIN src s ON t.user_id = s.user_id
    WHERE coalesce(s.op, 'keep') <> 'D'
    """,
    "S8", "T1", "T2", "T3", "W5", "W6", "P9", "P10",
)
def stream_changelog_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Flink changelog pipeline as Structured Streaming: socket
    text source (IcebergStream.java:87-88 — a REAL localhost TCP server
    plays the reference's ``nc``) → malformed-line filter → parse →
    checkpointed foreachBatch MERGE (equality delete, :116-120) → final
    table state. Malformed lines are injected and must be dropped.

    If the environment forbids binding a localhost listener, falls back
    to a bounded text-file source speaking the same line protocol through
    the identical parse→MERGE pipeline. Each path builds its own target
    table, so a partially-merged socket attempt can never leak state into
    the fallback. Determinism: the payload encodes the arrival sequence
    (``p<event_id>``); the server sends lines in event_id order, so
    last-wins replay equals the oracle's window regardless of how the
    socket micro-batches split, and the file path writes ONE file so a
    single availableNow batch sees a total order."""
    ev = load_star(spark, sf_dir, "events")["events"]
    tmp = tempfile.mkdtemp(prefix="lakeshed-stream-")

    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    tgt = (
        ev.where(F.col("event_id") <= 1500)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("user_id").cast("int").alias("block_number"),
            F.concat(F.lit("p"), F.col("event_id")).alias("hash"),
        )
    )
    lines = (
        ev.where((F.col("event_id") > 1500) & (F.col("event_id") <= 3000))
        .select(
            F.concat_ws(
                ",",
                F.when(F.col("event_id") % 7 == 0, "D").otherwise("I"),
                F.col("user_id").cast("string"),
                F.concat(F.lit("p"), F.col("event_id")),
            ).alias("value")
        )
    )
    bad = ["garbage", "I,only-two", "Z,9,not-a-kind", "I,NaN,px"]

    def _run(parsed_stream: DataFrame, wh: str, trigger: dict):
        t = Catalog(spark, os.path.join(tmp, wh)).create_table(
            "default.stream_state", tgt
        )
        parsed = parse_changelog(parsed_stream).withColumn(
            "__seq", F.regexp_extract("hash", r"p(\d+)", 1).try_cast("long")
        )
        q = changelog_upsert(
            parsed, t,
            checkpoint=os.path.join(tmp, "ckpt-" + wh),
            trigger=trigger,
        )
        return t, q

    from pyspark.errors import StreamingQueryException

    global LAST_CHANGELOG_SOURCE
    try:
        out = _changelog_via_socket(spark, _run, lines, bad)
        LAST_CHANGELOG_SOURCE = "socket"
        return out
    except (OSError, TimeoutError):
        # ONLY environment shapes fall back: bind/connect refused
        # (OSError incl. PermissionError) or TCP delivery never
        # completing (TimeoutError).
        LAST_CHANGELOG_SOURCE = "file"
    except StreamingQueryException as e:
        # Structured Streaming wraps EVERY query failure — including a
        # real MERGE/pipeline bug inside foreachBatch — in this type
        # (r11 review wave 12: a blanket catch let a multi-batch-only
        # regression silently rerun via the single-batch file path and
        # pass the gate). Fall back only when the SOCKET TRANSPORT
        # itself failed; anything else is a real bug and must surface.
        # r11 ADVICE: generic substrings ('connection', 'connect') also
        # match unrelated pipeline errors whose message happens to say
        # e.g. 'connection refused' (JDBC/Derby/metastore) — so inspect
        # the JVM cause chain for java.net.* exceptions or frames in the
        # socket source class instead of word-matching the rendering.
        if not _is_socket_transport_failure(e):
            raise
        LAST_CHANGELOG_SOURCE = "file"

    def _write_lines(path: str) -> None:
        bad_df = spark.createDataFrame([(b,) for b in bad], "value string")
        # ONE file → one availableNow batch → total __seq order (module
        # note); repartition (shuffle) rather than coalesce: coalesce(1)
        # would pull the whole upstream events scan onto one task; the
        # shuffle moves only the ~1.5k projected lines
        lines.unionAll(bad_df).repartition(1).write.mode("overwrite") \
            .text(path)

    lines_dir = _fixture_dir("changelog", sf_dir, _write_lines)
    stream = spark.readStream.format("text").load(lines_dir)
    t, q = _run(stream, "wh", {"availableNow": True})
    q.awaitTermination()
    return t.read().select("block_number", "hash")


def _changelog_via_socket(spark: SparkSession, run, lines: DataFrame,
                          bad: list[str]) -> DataFrame:
    """S8 — drive the changelog MERGE from a real TCP text socket. The
    payload is collected driver-side (≤ ~1.5k short lines — fixture
    metadata, not data scale) and served in event_id order so arrival
    order matches sequence order across any micro-batch split."""
    import socket as _socket
    import threading
    import time as _time

    ordered = sorted(
        (r.value for r in lines.collect()),
        key=lambda s: int(s.rsplit(",p", 1)[1]),
    )
    step = max(1, len(ordered) // (len(bad) + 1))
    for i, b in enumerate(bad):  # interleave malformed lines
        ordered.insert(min(len(ordered), (i + 1) * step), b)
    payload = ("\n".join(ordered) + "\n").encode()

    srv = _socket.socket(_socket.AF_INET, _socket.SOCK_STREAM)
    srv.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    srv.settimeout(30)
    port = srv.getsockname()[1]
    done = threading.Event()

    def _serve() -> None:
        try:
            conn, _ = srv.accept()
            with conn:
                conn.sendall(payload)
                done.wait(timeout=120)  # hold open until drained
        except Exception:
            pass

    th = threading.Thread(target=_serve, daemon=True)
    th.start()
    q = None
    try:
        t, q = run(
            spark.readStream.format("socket")
            .option("host", "127.0.0.1").option("port", port).load(),
            "wh_sock",
            # 0-interval trigger: fire the next micro-batch as soon as the
            # previous commits — the gate drains a bounded payload, so
            # there's no idle-tick cost to amortize
            {"processingTime": "0 seconds"},
        )
        # drain: TCP delivery races the first micro-batch, so poll until
        # the source has ingested every line (incl. the malformed ones).
        # Counts accumulate across polls keyed by batchId — recentProgress
        # is a BOUNDED buffer (numRecentProgressUpdates, default 100), so
        # summing it directly could undercount once idle batches evict
        # the early data-bearing entries.
        expected = len(ordered)
        seen: dict[int, int] = {}
        deadline = _time.time() + 90
        while _time.time() < deadline:
            q.processAllAvailable()
            for p in q.recentProgress:
                if isinstance(p, dict):
                    seen[int(p["batchId"])] = int(p["numInputRows"])
                else:
                    seen[int(p.batchId)] = int(p.numInputRows)
            if sum(seen.values()) >= expected:
                break
            _time.sleep(0.2)
        else:
            raise TimeoutError("socket source never ingested all lines")
        q.processAllAvailable()  # merges for the final batch
        return t.read().select("block_number", "hash")
    finally:
        done.set()
        if q is not None:
            q.stop()
        srv.close()


@qdef(
    "stream_windowed_rollup",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
    "T1", "T2", "S10",
)
def stream_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window rollup over a parquet file STREAM
    (availableNow, complete mode into a memory sink) — must equal the
    batch hourly rollup at rest. The streaming runtime (state store,
    watermark bookkeeping, micro-batch commit) is what's under test."""
    ev = load_star(spark, sf_dir, "events")["events"]
    tmp = tempfile.mkdtemp(prefix="lakeshed-swr-")
    # fixture input goes through the per-sf cache like the other gates
    # (r11 review wave 12: this gate re-wrote the projected events table
    # into a fresh tempdir on every call — wasted I/O measured into the
    # gate's bench wall time, plus a leaked dir per run)
    src_dir = _fixture_dir(
        "swr-src", sf_dir,
        lambda p: ev.select("ts", "event_type")
        .write.mode("overwrite").parquet(p))

    stream = (
        _state_session(spark).readStream
        .schema("ts timestamp, event_type string")
        .parquet(src_dir)
    )
    rolled = windowed_rollup(
        stream, ts_col="ts", key_col="event_type", window="1 hour"
    )
    return _run_to_memory(
        rolled, "complete", os.path.join(tmp, "ckpt"), "swr_")


@qdef(
    "stream_sessionization",
    """
    WITH d AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 12 HOUR
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    )
    SELECT CAST(user_id AS INTEGER) AS user_id,
           date_trunc('second', min(ts)) AS session_start,
           date_trunc('second', max(ts)) AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    "T1", "T2", "applyInPandasWithState",
)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator through the gate: 12-hour-gap sessionization
    via ``applyInPandasWithState`` (one open session per user in state),
    run as a real streaming query (availableNow, checkpointed, memory
    sink). Per-user flush sentinels close every real session inside the
    bounded run, so the at-rest result equals the batch lag/cumsum oracle
    row-for-row — the oracle replays session assignment in pure SQL.

    Bench-history note (r6 VERDICT watch item): the 2.01 s (r5) → 2.78 s
    (r6) uptick did NOT reproduce locally — 4 bench-methodology re-runs
    (warmup + timed, sf0.1) measured 2.01-2.38 s, and no r6 commit
    touched this path (c2beb5e changed changelog code only). Driver-box
    contention noise; the plan and state-store config are unchanged."""
    ev = load_star(spark, sf_dir, "events")["events"]
    tmp = tempfile.mkdtemp(prefix="lakeshed-sess-")
    # per-sf fixture cache (r11 review wave 12: the sentinel projection
    # was re-written into a fresh tempdir on every call)
    src_dir = _fixture_dir(
        "sess-src", sf_dir,
        lambda p: with_flush_sentinels(ev).repartition(1)
        .write.mode("overwrite").parquet(p))

    stream = (
        _state_session(spark).readStream
        .schema("user_id bigint, ts timestamp")
        .parquet(src_dir)
    )
    sessions = sessionize_stream(stream, gap_minutes=720)
    return _run_to_memory(
        sessions, "append", os.path.join(tmp, "ckpt"), "sess_")


@qdef(
    "stream_stream_join",
    """
    SELECT a.user_id, a.ts AS view_ts, b.ts AS purchase_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """,
    "T1", "T2", "stream-stream-join",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view→purchase attribution within one
    hour): two watermarked file streams inner-joined on user + event-time
    range — the canonical Structured Streaming two-stream operator. The
    watermarks bound BOTH sides' join state (events older than watermark
    − interval are evicted), which is what makes the state O(window), not
    O(stream), at 100 TB. availableNow drains both sides; at rest the
    result equals the batch interval join the oracle runs."""
    ev = load_star(spark, sf_dir, "events")["events"]
    tmp = tempfile.mkdtemp(prefix="lakeshed-ssj-")

    def _write_side(kind: str):
        def write(path: str) -> None:
            (
                ev.where(F.col("event_type") == kind)
                .select("user_id", "ts")
                .repartition(1)
                .write.mode("overwrite").parquet(path)
            )
        return write

    views_dir = _fixture_dir("ssj-views", sf_dir, _write_side("view"))
    buys_dir = _fixture_dir("ssj-buys", sf_dir, _write_side("purchase"))

    ss = _state_session(spark)
    views = (
        ss.readStream.schema("user_id bigint, ts timestamp")
        .parquet(views_dir)
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "2 hours")
    )
    buys = (
        ss.readStream.schema("user_id bigint, ts timestamp")
        .parquet(buys_dir)
        .select(F.col("user_id").alias("b_user"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        buys,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts")
           <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("user_id", "view_ts", "purchase_ts")

    return _run_to_memory(
        joined, "append", os.path.join(tmp, "ckpt"), "ssj_")


@qdef(
    "stream_dedup_events",
    """
    SELECT event_id, user_id, ts FROM events
    """,
    "T1", "T2", "stream-dedup",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once ingest dedup: an at-least-once source
    re-delivers records (the fixture duplicates every third event);
    ``dropDuplicatesWithinWatermark`` on the event id emits each exactly
    once — a key's dedup state is EVICTED once the watermark passes its
    event time, so state is bounded by the watermark horizon rather than
    the stream's lifetime (plain ``dropDuplicates(['event_id'])`` keeps
    every key forever because the subset carries no event-time column;
    an at-least-once bus re-delivers within its ack window, well inside
    the 1 h horizon). At rest equals SELECT of the original rows."""
    ev = load_star(spark, sf_dir, "events")["events"].select(
        "event_id", "user_id", "ts"
    )

    def _write(path: str) -> None:
        (
            ev.unionAll(ev.where(F.col("event_id") % 3 == 0))
            .repartition(1)
            .write.mode("overwrite").parquet(path)
        )

    src = _fixture_dir("dedup-ev", sf_dir, _write)
    stream = (
        _state_session(spark).readStream
        .schema("event_id bigint, user_id bigint, ts timestamp")
        .parquet(src)
    )
    deduped = stream.withWatermark("ts", "1 hour") \
        .dropDuplicatesWithinWatermark(["event_id"])
    tmp = tempfile.mkdtemp(prefix="lakeshed-sde-")
    return _run_to_memory(
        deduped, "append", os.path.join(tmp, "ckpt"), "sde_")


@qdef(
    "stream_cdc_diff",
    """
    SELECT 'delete' AS _change_type, n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_regionkey IN (2, 4)
    UNION ALL
    SELECT 'insert' AS _change_type, n_nationkey, n_name || '!', n_regionkey
    FROM nation WHERE n_regionkey = 2
    """,
    "W7", "T3",
)
def stream_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 — CDC read-back: UPDATE emits its delete+insert pair, DELETE its
    delete rows (ChangelogMode.all() encoding, PaimonStream.java:86).
    Unchanged rows in rewritten files cancel out in the diff."""
    nation = load_star(spark, sf_dir, "nation")["nation"].select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    tmp = tempfile.mkdtemp(prefix="lakeshed-cdc-")
    t = Catalog(spark, tmp).create_table("default.nation_cdc", nation)
    t.update({"n_name": "concat(n_name, '!')"}, where="n_regionkey = 2")
    t.delete("n_regionkey = 4")
    return diff_versions(t, 0)


@qdef(
    "stream_static_enrich",
    """
    SELECT c.c_mktsegment AS segment, e.event_type,
           count(*) AS cnt, round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    "T1", "J-stream-static",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: an event STREAM enriched against a static
    dimension table — the standard Structured Streaming lookup-join shape
    (dimension re-read per micro-batch; STATELESS, unlike stream-stream
    joins, because the static side is a plain batch relation). The dim is
    broadcast, so at 100 TB/day of events each micro-batch does a
    map-side hash join with zero shuffle of the stream; only the final
    at-rest rollup (4-ish segments × 5 event types) exchanges anything.
    At rest equals the batch join + rollup."""
    ev = load_star(spark, sf_dir, "events")["events"]
    dim = load_star(spark, sf_dir, "customer")["customer"].select(
        "c_custkey", "c_mktsegment"
    )
    tmp = tempfile.mkdtemp(prefix="lakeshed-sse-")

    def _write(path: str) -> None:
        ev.select("user_id", "event_type", "value").repartition(1) \
            .write.mode("overwrite").parquet(path)

    src = _fixture_dir("enrich-ev", sf_dir, _write)
    stream = (
        spark.readStream
        .schema("user_id bigint, event_type string, value double")
        .parquet(src)
    )
    enriched = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey, "inner"
    ).select(
        F.col("c_mktsegment").alias("segment"), "event_type", "value"
    )
    return (
        _run_to_memory(
            enriched, "append", os.path.join(tmp, "ckpt"), "sse_")
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
