"""Streaming changelog pipeline tests (SURVEY §5.4).

Feeds the FakerSource/datagen record shapes — including malformed lines and
same-batch I/D collisions — through source → parse → foreachBatch MERGE
with an ``availableNow`` trigger, and asserts the final table state equals
a plain-Python changelog replay (the reference's semantics: last change per
key wins; D removes the key — IcebergStream.java:116-120).
"""

from __future__ import annotations

import os

from lakeshed.catalog import Catalog
from lakeshed.streaming import changelog_upsert, diff_versions, parse_changelog

LINES_BATCH_1 = [
    "I,1,aaa",
    "garbage-line-no-commas",     # arity filter drops (P9)
    "I,2,bbb",
    "I,2,bbb2",                   # same-batch same-key: last wins
    "D,3,ccc",                    # delete of a key that never existed
    "I,4,ddd",
    "D,4,ddd",                    # I then D in one batch → net delete
    "too,many,fields,here",       # arity 4 → dropped
    "I,notanint,eee",             # unparseable key → dropped
]
LINES_BATCH_2 = [
    "D,1,aaa",                    # delete existing
    "I,5,fff",
    "I,2,bbb3",                   # update existing
]


def _try_int32(s: str) -> int | None:
    """The key-parse CONTRACT of ``parse_changelog`` (wave 26): Spark's
    ``try_cast(string as int)`` — trim ASCII control/space (chars
    <= U+0020; NOT unicode whitespace), optional sign, ASCII digits
    only (NOT unicode digits like '٥'/'５', which Python ``int()``
    accepts), int32 range (overflow → NULL → dropped, where Python's
    unbounded ``int()`` would keep the row). Pinned empirically against
    try_cast in test_wave26; the replay model must mirror the engine
    contract, not Python's looser parser."""
    s = s.strip("".join(chr(c) for c in range(0x21)))
    if not s:
        return None
    body = s[1:] if s[0] in "+-" else s
    if not body or not all("0" <= c <= "9" for c in body):
        return None
    v = int(s)
    return v if -(2 ** 31) <= v < 2 ** 31 else None


def _python_replay(batches: list[list[str]]) -> dict[int, str]:
    state: dict[int, str] = {}
    for lines in batches:
        for line in lines:
            parts = line.split(",")
            if len(parts) != 3 or parts[0] not in ("I", "D"):
                continue
            key = _try_int32(parts[1])
            if key is None:
                continue
            if parts[0] == "D":
                state.pop(key, None)
            else:
                state[key] = parts[2]
    return state


def _run_stream(spark, tmp_path, batches: list[list[str]]) -> dict[int, str]:
    src_dir = tmp_path / "in"
    src_dir.mkdir(exist_ok=True)
    cat = Catalog(spark, str(tmp_path / "wh"))
    table = cat.create_table(
        "default.blocks",
        schema="block_number int, hash string, type string",
    )
    for i, lines in enumerate(batches):
        # one file per micro-batch; maxFilesPerTrigger=1 keeps batch
        # boundaries aligned with the files
        with open(src_dir / f"batch_{i}.txt", "w") as fh:
            fh.write("\n".join(lines) + "\n")
        lines_df = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", "1")
            .load(str(src_dir))
        )
        q = changelog_upsert(
            parse_changelog(lines_df).drop("ts"),
            table,
            checkpoint=str(tmp_path / "ckpt"),
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
    return {
        r.block_number: r.hash for r in table.read().collect()
    }, table


def test_changelog_stream_matches_python_replay(spark, tmp_path):
    final, _ = _run_stream(spark, tmp_path, [LINES_BATCH_1, LINES_BATCH_2])
    assert final == _python_replay([LINES_BATCH_1, LINES_BATCH_2])


def test_checkpoint_no_reprocessing(spark, tmp_path):
    """T2 — the checkpoint makes each file's lines apply exactly once:
    restarting the stream over the same input+checkpoint with no new files
    produces no new table commits (exactly-once table state)."""
    final, table = _run_stream(spark, tmp_path, [LINES_BATCH_1])
    assert final == _python_replay([LINES_BATCH_1])
    head_before = table.head()
    # restart over the same directory + checkpoint, no new files
    lines_df = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(tmp_path / "in"))
    )
    q = changelog_upsert(
        parse_changelog(lines_df).drop("ts"),
        table,
        checkpoint=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    assert table.head() == head_before


def test_windowed_rollup_stream_equals_batch(spark, tmp_path):
    """T/watermark — the streaming windowed rollup over a bounded file
    source (availableNow, complete mode) must equal the same expression
    evaluated in batch."""
    from lakeshed.fixtures import clickstream
    from lakeshed.streaming import windowed_rollup

    ev = clickstream(spark, rows=500)
    src = str(tmp_path / "ev")
    ev.write.mode("overwrite").parquet(src)

    batch = {
        (r.window_start, r.event, r.cnt)
        for r in windowed_rollup(
            spark.read.parquet(src), window="5 minutes"
        ).collect()
    }
    stream = windowed_rollup(
        spark.readStream.schema(ev.schema).parquet(src), window="5 minutes"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("roll_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event, r.cnt)
        for r in spark.sql("SELECT * FROM roll_sink").collect()
    }
    assert got == batch and batch


def test_commit_conflict_detected(spark, tmp_path):
    """Optimistic concurrency: a COMPLETED racing writer (sibling commit
    file + ref update — the full protocol) forces CommitConflictError on
    a statement that pinned its parent before the race, and the loser's
    commit file does not linger. A sibling file NOT yet reachable from
    the ref is a mid-flight racer, not a winner: since the r9 ref CAS,
    exactly one of the two racers wins the ref and the OTHER conflicts —
    which one is decided at the ref swap, not at file-creation time
    (and orphans abandoned by rollback never count as winners)."""
    import pytest

    from lakeshed.table import MAIN, CommitConflictError

    import json

    cat = Catalog(spark, str(tmp_path / "whc"))
    t = cat.create_table(
        "default.race", spark.createDataFrame([(1, "a")], "k int, v string")
    )
    # simulate the completed winner: sibling commit (same branch, same
    # parent) lands under the next version AND publishes its ref
    head = t.head()
    with open(t._commit_path(head)) as fh:
        sibling = json.load(fh)
    sibling["version"] = head + 1
    sibling["parent"] = head
    with open(t._commit_path(head + 1), "x") as fh:
        json.dump(sibling, fh)
    t._mutate_refs(lambda r: r.__setitem__(MAIN, head + 1))
    # a pinned statement that resolved BEFORE the winner must conflict
    with pytest.raises(CommitConflictError):
        t._commit("append", [], [], parent=head, expected_ref=head)
    # the loser's commit file must not linger
    assert max(t._versions()) == head + 1
    # an unpinned append re-resolves and chains cleanly on top
    c = t.append(spark.createDataFrame([(2, "b")], "k int, v string"))
    assert c.parent == head + 1


def test_diff_versions_cdc(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh2"))
    t = cat.create_table(
        "default.cdc",
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"
        ),
    )
    v0 = t.head()
    t.update({"v": "'b2'"}, where="k = 2")
    t.insert_values((3, "c"))
    changes = {
        (r._change_type, r.k, r.v)
        for r in diff_versions(t, v0).collect()
    }
    assert changes == {
        ("delete", 2, "b"),   # update = delete+insert pair (±U)
        ("insert", 2, "b2"),
        ("insert", 3, "c"),
    }


def test_diff_versions_reverse_across_schema_evolution(spark, tmp_path):
    """Reverse diff (v_from > v_to, e.g. auditing back across a rollback)
    where the newer version's files were written under a schema the older
    commit has never seen: the removed-file leg must look the schema up in
    the commit that actually carries it, and every row still adapts to
    v_to's schema."""
    cat = Catalog(spark, str(tmp_path / "wh-rev"))
    t = cat.create_table(
        "default.rev",
        spark.createDataFrame([(1, "a")], "k int, v string"),
    )
    v0 = t.head()
    t.add_column("w", "int")
    t.append(spark.createDataFrame([(2, "b", 20)], "k int, v string, w int"))
    v1 = t.head()
    # forward sanity: the new row appears, in v1's 3-column schema
    fwd = {(r._change_type, r.k, r.v, r.w)
           for r in diff_versions(t, v0, v1).collect()}
    assert fwd == {("insert", 2, "b", 20)}
    # reverse: same rows with flipped kinds, adapted to v0's 2-col schema
    rev = diff_versions(t, v1, v0)
    assert rev.columns == ["_change_type", "k", "v"]
    assert {(r._change_type, r.k, r.v) for r in rev.collect()} == {
        ("delete", 2, "b")
    }


def test_merge_batch_replay_is_idempotent(spark, tmp_path):
    """T2 exactly-once: after checkpoint recovery Structured Streaming can
    re-deliver a micro-batch to foreachBatch; replaying the SAME changelog
    batch through MERGE must leave the table unchanged (delete of a
    missing key no-ops, re-insert matches and updates to the same values),
    so redelivery cannot corrupt state."""
    cat = Catalog(spark, str(tmp_path / "whi"))
    t = cat.create_table(
        "default.idem",
        spark.createDataFrame(
            [(1, "h0"), (5, "h0")], "block_number int, hash string"
        ),
    )
    batch = spark.createDataFrame(
        [("D", 1, "hx", 1), ("I", 2, "h2", 2), ("I", 5, "h5", 3)],
        "type string, block_number int, hash string, __seq long",
    )

    def apply(b):
        t.merge(
            b, on="block_number",
            when_matched_delete="s.type = 'D'",
            when_matched_update={"hash": "s.hash"},
            when_not_matched_insert="type = 'I'",
            source_order="__seq",
        )

    apply(batch)
    state1 = {(r.block_number, r.hash) for r in t.read().collect()}
    assert state1 == {(2, "h2"), (5, "h5")}
    apply(batch)  # redelivery
    state2 = {(r.block_number, r.hash) for r in t.read().collect()}
    assert state2 == state1


def test_diff_versions_scans_only_changed_files(spark, tmp_path):
    """The CDC diff must be O(changed data): files live in both snapshots
    never enter either exceptAll leg (VERDICT r04 #2). Asserted on the
    plan's actual input-file set, not the docstring."""
    cat = Catalog(spark, str(tmp_path / "wh3"))
    t = cat.create_table(
        "default.cdcprune",
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
    )
    v0 = t.head()
    unchanged = {a.path.split("/")[-1] for a in t._state(v0)[1]}
    t.append(spark.createDataFrame([(3, "c"), (4, "d")], "k int, v string"))
    diff = diff_versions(t, v0)
    scanned = {p.split("/")[-1] for p in diff.inputFiles()}
    assert scanned, "diff plan should read the appended files"
    assert not scanned & unchanged, (
        f"unchanged files reached the CDC diff scan: {scanned & unchanged}"
    )
    # and the rows are still right
    changes = {(r._change_type, r.k, r.v) for r in diff.collect()}
    assert changes == {("insert", 3, "c"), ("insert", 4, "d")}


def test_diff_versions_cdc_after_compaction(spark, tmp_path):
    """Compaction rewrites files without changing rows: the file-delta
    diff must report an EMPTY change set (added and removed files carry
    identical row multisets that cancel in the exceptAll legs)."""
    cat = Catalog(spark, str(tmp_path / "wh4"))
    t = cat.create_table(
        "default.cdccompact",
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
    )
    t.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    v_before = t.head()
    t.compact()
    assert diff_versions(t, v_before).count() == 0


def test_sessionize_stream_idle_timeout_flush(spark, tmp_path):
    """Production flush path (VERDICT r04 #7): with idle_timeout_ms set,
    a user who goes quiet has their open session emitted by the
    ProcessingTimeTimeout on a later trigger — no sentinel rows. User 1
    appears only in batch 1 and must flush; user 2 keeps receiving events
    (never times out) so their trailing session stays in state."""
    import time

    from pyspark.sql import functions as F

    from lakeshed.streaming import sessionize_stream

    src = tmp_path / "sess-to-src"
    src.mkdir()

    def write_file(rows, name, mtime):
        df = spark.createDataFrame(rows, "user_id bigint, ts string")
        df = df.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        part = str(tmp_path / ("stage-to-" + name))
        df.coalesce(1).write.mode("overwrite").parquet(part)
        data = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        dst = str(src / name)
        os.rename(os.path.join(part, data), dst)
        os.utime(dst, (mtime, mtime))

    now = time.time()
    write_file([(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
                (2, "2024-01-01 01:00:00")], "a.parquet", now - 100)
    write_file([(2, "2024-01-01 02:00:00")], "b.parquet", now - 50)
    write_file([(2, "2024-01-01 03:00:00")], "c.parquet", now)

    q = (
        sessionize_stream(
            spark.readStream.schema("user_id bigint, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src)),
            gap_minutes=480,
            idle_timeout_ms=1,
        )
        .writeStream.format("memory")
        .queryName("sess_timeout")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt-to"))
        .trigger(availableNow=True)
        .start()
    )
    # ProcessingTimeTimeout keeps the engine scheduling timeout-service
    # batches after the data drains (shouldRunAnotherBatch stays true), so
    # the query does NOT self-terminate: poll until every idle user has
    # flushed, then stop — the production pattern is a continuous trigger.
    want = {
        (1, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 2),
        (2, "2024-01-01 01:00:00", "2024-01-01 03:00:00", 3),
    }
    deadline = time.time() + 120
    got = set()
    while time.time() < deadline and got != want:
        got = {
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in spark.table("sess_timeout").collect()
        }
        time.sleep(0.5)
    q.stop()
    # every open session was emitted by the timeout — no sentinels involved
    assert got == want


def test_sessionize_stream_state_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps the open session across micro-batches:
    two time-ordered files at maxFilesPerTrigger=1 must produce the same
    sessions as the batch lag/cumsum twin over the union."""
    import time

    from pyspark.sql import functions as F

    from lakeshed.streaming import sessionize_batch, sessionize_stream

    rows1 = [  # user 1: one session spanning the batch boundary
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),
        (2, "2024-01-01 01:00:00"),
    ]
    rows2 = [
        (1, "2024-01-01 00:20:00"),   # continues user 1's open session
        (1, "2024-01-01 09:20:00"),   # > 8h gap → new session
        (2, "2024-01-02 12:00:00"),   # new session for user 2
        (1, "2100-01-01 00:00:00"),   # flush sentinels
        (2, "2100-01-01 00:00:00"),
    ]
    src = tmp_path / "sess-src"
    src.mkdir()

    def write_file(rows, name, mtime):
        df = spark.createDataFrame(rows, "user_id bigint, ts string")
        df = df.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        part = str(tmp_path / ("stage-" + name))
        df.coalesce(1).write.mode("overwrite").parquet(part)
        data = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        dst = str(src / name)
        os.rename(os.path.join(part, data), dst)
        os.utime(dst, (mtime, mtime))  # FileStreamSource orders by mtime

    now = time.time()
    write_file(rows1, "a.parquet", now - 100)
    write_file(rows2, "b.parquet", now)

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        sessionize_stream(stream, gap_minutes=480)
        .writeStream.format("memory")
        .queryName("sess_xbatch")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # >1 micro-batch actually ran (cross-batch state was exercised)
    assert len(q.recentProgress) > 1

    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.table("sess_xbatch").collect()
    }
    all_rows = spark.createDataFrame(
        rows1 + rows2, "user_id bigint, ts string"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    want = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in sessionize_batch(all_rows, gap_minutes=480)
        .where(F.col("session_start") < "2099-01-01")  # drop sentinel rows
        .collect()
    }
    assert got == want
    # the spanning session was stitched: user 1's first session has 3 events
    assert (1, "2024-01-01 00:00:00", "2024-01-01 00:20:00", 3) in got


def test_changelog_gate_runs_on_real_tcp_socket(spark, monkeypatch):
    """S8 — the stream_changelog_upsert gate drives the MERGE from a real
    localhost TCP source when binding is allowed (VERDICT r05 #8), and the
    same-protocol file fallback produces the identical final state when
    the listener is unavailable."""
    import lakeshed.streaming.queries as sq

    sf = "/root/testdata/sf0.001"
    via_socket = sq.stream_changelog_upsert(spark, sf)
    socket_rows = {(r.block_number, r.hash) for r in via_socket.collect()}
    assert sq.LAST_CHANGELOG_SOURCE == "socket"
    assert socket_rows

    # simulate a bind-forbidden environment: the fallback must engage and
    # produce the same table state
    def _deny(*a, **k):
        raise PermissionError("listener forbidden")

    monkeypatch.setattr(sq, "_changelog_via_socket", _deny)
    via_file = sq.stream_changelog_upsert(spark, sf)
    assert sq.LAST_CHANGELOG_SOURCE == "file"
    assert {(r.block_number, r.hash) for r in via_file.collect()} == \
        socket_rows


def test_wave16_socket_fallback_keys_on_cause_chain_not_prose():
    """r11 ADVICE: the StreamingQueryException fallback gate matched
    generic substrings ('connection', 'connect'), so a real foreachBatch
    bug whose message said e.g. JDBC 'connection refused' silently reran
    via the file path. The gate must key on the JVM cause chain
    (java.net.* / TextSocket* frames), not message prose."""
    from lakeshed.streaming.queries import _is_socket_transport_failure

    class _Cls:
        def __init__(self, name):
            self._n = name

        def getName(self):
            return self._n

    class _Frame:
        def __init__(self, cls):
            self._c = cls

        def getClassName(self):
            return self._c

    class _JThrowable:
        def __init__(self, cls, frames=(), cause=None):
            self._cls, self._frames, self._cause = cls, frames, cause

        def getClass(self):
            return _Cls(self._cls)

        def getStackTrace(self):
            return [_Frame(c) for c in self._frames]

        def getCause(self):
            return self._cause

    class _Exc(Exception):
        def __init__(self, msg, origin=None, stack=""):
            super().__init__(msg)
            self._origin = origin
            self._stackTrace = stack

    # a pipeline bug whose MESSAGE says 'connection refused' (Derby/JDBC
    # shape) must SURFACE, not fall back — the exact ADVICE scenario
    derby = _JThrowable(
        "java.sql.SQLNonTransientConnectionException",
        frames=["org.apache.derby.client.net.NetConnection"],
    )
    bug = _Exc("Query failed: connection refused to metastore",
               origin=_JThrowable("org.apache.spark.SparkException",
                                  frames=["org.apache.spark.sql.X"],
                                  cause=derby))
    assert _is_socket_transport_failure(bug) is False

    # a genuine transport failure: the ConnectException is raised INSIDE
    # the socket source, so its own frames carry the TextSocket class —
    # the realistic shape of a source connect/read failure
    net = _JThrowable(
        "java.net.ConnectException",
        frames=["java.net.PlainSocketImpl",
                "org.apache.spark.sql.execution.streaming.sources."
                "TextSocketMicroBatchStream"])
    transport = _Exc("Connection refused", origin=_JThrowable(
        "org.apache.spark.SparkException", cause=net))
    assert _is_socket_transport_failure(transport) is True

    # a java.net.* exception with NO socket-source frame is a pipeline
    # bug hitting a downed network service (JDBC sink, metastore) and
    # must surface (r12 review: java.net-anywhere re-opened the masking)
    jdbc_net = _JThrowable(
        "java.net.ConnectException",
        frames=["java.net.PlainSocketImpl",
                "org.apache.derby.client.net.NetConnection"])
    jdbc_bug = _Exc("Connection refused", origin=_JThrowable(
        "org.apache.spark.SparkException", cause=jdbc_net))
    assert _is_socket_transport_failure(jdbc_bug) is False

    # a failure raised FROM the socket source class counts even when the
    # exception type is generic
    src = _Exc("read failed", origin=_JThrowable(
        "org.apache.spark.SparkException",
        frames=["org.apache.spark.sql.execution.streaming.sources."
                "TextSocketMicroBatchStream"]))
    assert _is_socket_transport_failure(src) is True

    # connect-mode fallback (no _origin): only STACK-FRAME-shaped
    # 'at ...TextSocket' lines decide; bare java.net / generic words and
    # crucially the query DEBUG STRING do not — Spark renders
    # 'TextSocketV2[host: ...]' in the offsets section of EVERY
    # StreamingQueryException of a socket query (r12 review, verified
    # against the spark-sql jar), so a substring match would have made
    # the gate always fall back
    assert _is_socket_transport_failure(
        _Exc("x", stack="\tat org.apache.spark.sql.execution.streaming."
                        "sources.TextSocketMicroBatchStream.initialize("
                        "TextSocketMicroBatchStream.scala:87)")) is True
    assert _is_socket_transport_failure(
        _Exc("x", stack="Query [id=1] terminated\n"
                        "Current Committed Offsets: {TextSocketV2[host: "
                        "localhost, port: 9999]: 5}\n"
                        "Caused by: java.lang.RuntimeException: merge "
                        "bug\n\tat com.example.Pipeline.apply(P.java:1)"
             )) is False
    assert _is_socket_transport_failure(
        _Exc("x", stack="Caused by: java.net.SocketException")) is False
    assert _is_socket_transport_failure(
        _Exc("could not connect to the metastore database")) is False

    # a cyclic / self-caused chain must terminate (hop cap)
    loop = _JThrowable("org.apache.spark.SparkException")
    loop._cause = loop
    assert _is_socket_transport_failure(_Exc("x", origin=loop)) is False


def test_restart_recovery_mid_stream_crash_exactly_once(spark, tmp_path):
    """T2 exactly-once across PROCESS restarts (not just batch replay):
    the query is killed mid-stream — after batch 0's MERGE landed in the
    table but BEFORE Structured Streaming wrote that batch's checkpoint
    commit — then restarted from the same checkpointLocation over
    OVERLAPPING input (the already-applied file still sits in the source
    directory). Recovery must (a) replay the uncommitted batch, which the
    last-wins MERGE absorbs idempotently, (b) never reprocess a
    checkpoint-committed file, and (c) process the remaining file once —
    final state == the single-application python replay."""
    import pytest as _pytest

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    cat = Catalog(spark, str(tmp_path / "wh"))
    table = cat.create_table(
        "default.blocks_rr",
        schema="block_number int, hash string, type string",
    )
    batch1 = ["I,1,a", "I,2,b", "I,3,c"]
    batch2 = ["D,2,x", "I,3,c2", "I,4,d"]
    (src_dir / "b0.txt").write_text("\n".join(batch1) + "\n")
    (src_dir / "b1.txt").write_text("\n".join(batch2) + "\n")
    # the file source orders batches by modification time; force distinct
    # mtimes so b0 is deterministically the first micro-batch
    now = os.stat(src_dir / "b1.txt").st_mtime
    os.utime(src_dir / "b0.txt", (now - 10, now - 10))

    def crash_hook(batch, batch_id):
        # runs AFTER table.merge() inside foreachBatch: the table mutation
        # is durable, the streaming commit for this batch is not — the
        # exact crash window that breaks naive at-least-once sinks
        raise RuntimeError("injected mid-stream crash")

    def lines_df():
        return (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", "1")
            .load(str(src_dir))
        )

    q = changelog_upsert(
        parse_changelog(lines_df()).drop("ts"), table,
        checkpoint=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
        batch_hook=crash_hook,
    )
    with _pytest.raises(Exception, match="injected mid-stream crash"):
        q.awaitTermination(120)
    # the crash hit mid-stream: batch 0's merge landed, batch 1 never ran
    assert {r.block_number: r.hash for r in table.read().collect()} == \
        {1: "a", 2: "b", 3: "c"}
    head_after_crash = table.head()

    # process "restart": a NEW query object over the same checkpoint +
    # source directory, no crash hook, overlapping input still present
    q2 = changelog_upsert(
        parse_changelog(lines_df()).drop("ts"), table,
        checkpoint=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q2.awaitTermination(120)

    assert {r.block_number: r.hash for r in table.read().collect()} == \
        {1: "a", 3: "c2", 4: "d"}
    # recovery replayed exactly the uncommitted batch + the new file:
    # two merge commits after the crash head, not three (b0 was NOT
    # reprocessed a second time after its checkpoint commit landed)
    merges_after = [
        v for v in table._versions() if v > head_after_crash
    ]
    assert len(merges_after) == 2

    # a further restart with no new input is a clean no-op
    q3 = changelog_upsert(
        parse_changelog(lines_df()).drop("ts"), table,
        checkpoint=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q3.awaitTermination(120)
    assert table.head() == max(merges_after)


def test_wave12_sessionize_null_user_and_late_event(spark, tmp_path):
    """r11 review wave 12: (a) a NULL user_id group key must produce a
    null-user session row like sessionize_batch does — int(NaN) killed
    the whole query; (b) a cross-batch LATE event within the gap must
    not regress the open session's end below events already counted."""
    import time

    from pyspark.sql import functions as F

    from lakeshed.streaming import sessionize_stream

    src = tmp_path / "sess12-src"
    src.mkdir()

    def write_file(rows, name, mtime):
        df = spark.createDataFrame(rows, "user_id bigint, ts string")
        df = df.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        part = str(tmp_path / ("stage12-" + name))
        df.coalesce(1).write.mode("overwrite").parquet(part)
        data = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        dst = str(src / name)
        os.rename(os.path.join(part, data), dst)
        os.utime(dst, (mtime, mtime))

    now = time.time()
    # batch 1: null user with two events > gap apart (a session CLOSES
    # for the null key — the int(key) crash path) + user 1's open
    # session ending 10:00
    write_file([(None, "2024-01-01 00:00:00"),
                (None, "2024-01-02 00:00:00"),
                (1, "2024-01-01 09:00:00"),
                (1, "2024-01-01 10:00:00")], "a.parquet", now - 100)
    # batch 2: LATE event for user 1 at 09:30 (within gap, below the
    # stored open_end) then a 12:00 event whose gap must be measured
    # from 10:00, not 09:30; sentinels close everything
    write_file([(1, "2024-01-01 09:30:00"),
                (1, "2024-01-01 12:00:00"),
                (1, "2100-01-01 00:00:00"),
                (None, "2100-01-01 00:00:00")], "b.parquet", now)

    q = (
        sessionize_stream(
            spark.readStream.schema("user_id bigint, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src)),
            gap_minutes=480,
        )
        .writeStream.format("memory")
        .queryName("sess_w12")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt12"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) > 1  # cross-batch state was exercised

    rows = spark.table("sess_w12").where(
        F.col("session_start") < "2099-01-01").collect()
    null_sessions = {
        (str(r.session_start), str(r.session_end), r.n_events)
        for r in rows if r.user_id is None
    }
    # the null user's two singleton sessions both arrived (no crash)
    assert ("2024-01-01 00:00:00", "2024-01-01 00:00:00", 1) in null_sessions
    assert ("2024-01-02 00:00:00", "2024-01-02 00:00:00", 1) in null_sessions
    u1 = {
        (str(r.session_start), str(r.session_end), r.n_events)
        for r in rows if r.user_id == 1
    }
    # late 09:30 joined the open session WITHOUT regressing its end:
    # 12:00 measured its gap from 10:00 (2h < 8h) and extended it
    assert u1 == {("2024-01-01 09:00:00", "2024-01-01 12:00:00", 4)}, u1


def test_wave12_kafka_changelog_composes_with_stream_source_view(spark):
    """r11 review wave 12: kafka_changelog(kafka_stream_source(...)) — the
    composition the S9 docstring recommends — re-applied the typed-view
    mapping and failed on the already-dropped offset column; the mapping
    is now idempotent. Exercised on a recorded raw frame (no broker)."""
    from lakeshed.streaming.kafka import (
        KAFKA_RAW_SCHEMA,
        kafka_changelog,
        kafka_typed_view,
    )

    raw = spark.createDataFrame(
        [(b"k1", b"I,1,a#p0", "t", 0, 0, None, None),
         (b"k2", b"garbage", "t", 0, 1, None, None)],
        KAFKA_RAW_SCHEMA)
    once = kafka_typed_view(raw)
    twice = kafka_changelog(once)  # idempotent re-typing, then parse
    keep = [c for c in twice.columns if c != "ts"]  # ts = processing time
    rows = twice.select(keep).collect()
    assert len(rows) == 1  # malformed line dropped, valid one parsed
    assert rows == kafka_changelog(raw).select(keep).collect()


def _hostile_changelog_lines(rng, n: int) -> list[str]:
    """Seeded hostile-line generator (r13 VERDICT #8): every shape a
    real feed can throw at the arity filter — ragged arity, unicode
    separators and digits, huge fields, NUL bytes, numeric edge keys,
    bad kinds — interleaved with valid traffic so MERGE state is
    non-trivial. Newlines are excluded by construction: the text
    source splits records on \\n/\\r, so an embedded newline IS two
    lines at the source, not one hostile one."""
    kinds = ["I", "D"]
    seps = ["、", "；", " ", "\t", "|", " "]
    bad_keys = ["+5", "-5", "05", " 5 ", "5.0", "2147483648",
                "-2147483649", "٥٣", "５", "-0", "1e2", "0x10", "",
                " 7", "\t9\x0b", "9" * 40, "5_0", "5 5"]
    bad_kinds = ["i", "d", "INSERT", "", " I", "I ", "🔥", "II"]

    def field(maxlen=12):
        return "".join(rng.choice(
            "abcdef0123456789\x00é中ó ") for _ in range(
                rng.randrange(maxlen)))

    lines = []
    for _ in range(n):
        shape = rng.randrange(10)
        if shape <= 2:                       # valid traffic
            lines.append(
                f"{rng.choice(kinds)},{rng.randrange(20)},{field()}")
        elif shape == 3:                     # ragged arity 0..6
            lines.append(",".join(
                field(6) for _ in range(rng.randrange(7))))
        elif shape == 4:                     # unicode/wrong separator
            lines.append(rng.choice(seps).join(
                [rng.choice(kinds), str(rng.randrange(20)), field()]))
        elif shape == 5:                     # numeric edge keys
            lines.append(
                f"{rng.choice(kinds)},{rng.choice(bad_keys)},{field()}")
        elif shape == 6:                     # bad kind column
            lines.append(
                f"{rng.choice(bad_kinds)},{rng.randrange(20)},{field()}")
        elif shape == 7:                     # huge payload field
            lines.append(
                f"I,{rng.randrange(20)},{'x' * rng.choice([1000, 50000])}")
        elif shape == 8:                     # NUL-byte / control lines
            lines.append(rng.choice(
                ["\x00", "\x00,\x00,\x00", f"I,\x005,{field()}",
                 f"I\x00,5,{field()}", "\x07\x08\x1b"]))
        else:                                # empty-ish / comma storms
            lines.append(rng.choice(
                ["", " ", ",", ",,", ",,,", "," * 12,
                 "I,,x", ",5,x", "I,5,"]))
    return lines


def test_wave26_hostile_changelog_lines_drop_dont_crash(spark, tmp_path):
    """r13 VERDICT #8: the changelog parse path (P9 arity filter +
    P10 split/try_cast) under seeded hostile input — 180 lines of
    ragged arity, unicode separators, unicode digits, int32 overflow,
    NUL bytes, 50 KB fields — across 3 micro-batches. Pins:
    (a) the stream never crashes and every hostile line is DROPPED,
    never mis-parsed (final MERGE state equals the _python_replay
    model, whose key parse mirrors try_cast via _try_int32 — NOT
    Python int(), which accepts '٥٣'/'５'/2^31 and would model rows
    the engine correctly drops); (b) MERGE-state integrity after the
    hostile feed: no NULL or out-of-range keys, no internal columns
    leaked into the table; (c) the batch parse path agrees with the
    streamed result on the same corpus (one contract, two surfaces);
    (d) a 50 KB payload field survives end-to-end byte-identical."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(0xC0FFEE)
    batches = [_hostile_changelog_lines(rng, 60) for _ in range(3)]
    # plant the huge-field survivor deterministically: key 777 is only
    # ever written by this line, in batch 2, so it must land intact
    big = "y" * 50000
    batches[1].append(f"I,777,{big}")

    final, table = _run_stream(spark, tmp_path, batches)
    assert final == _python_replay(batches)
    assert final[777] == big                                  # (d)

    # (b) table-state integrity
    rows = table.read()
    assert set(rows.columns) == {"block_number", "hash", "type"}
    assert rows.where(F.col("block_number").isNull()).count() == 0
    bad = rows.where((F.col("block_number") < -(2 ** 31))
                     | (F.col("block_number") >= 2 ** 31)).count()
    assert bad == 0

    # (c) batch-mode parse of the same corpus = the streamed keep-set
    flat = [(ln,) for b in batches for ln in b]
    parsed = parse_changelog(
        spark.createDataFrame(flat, "value string")).drop("ts")
    kept = parsed.count()
    model_kept = sum(
        1 for b in batches for ln in b
        if len(ln.split(",")) == 3 and ln.split(",")[0] in ("I", "D")
        and _try_int32(ln.split(",")[1]) is not None)
    assert kept == model_kept


def test_stateful_gates_never_write_session_config(spark, sf_dir,
                                                   monkeypatch):
    """The stateful stream gates size their state to 8 shuffle partitions
    on a session of their own: the caller's session conf is never written
    (a thread planning on that session meanwhile would pick up the gate's
    count), and each gate's checkpoint holds exactly 8 state partitions
    whatever the caller's own count is."""
    from pyspark.sql.conf import RuntimeConfig

    import lakeshed.streaming.queries as sq

    caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "5")
    writes, ckpts = [], []
    real_set = RuntimeConfig.set

    def _spy(self, key, value):
        writes.append((self is caller.conf, key, value))
        return real_set(self, key, value)

    real_run = sq._run_to_memory

    def _run(*args, **kwargs):
        ckpts.append(args[-2])  # (..., ckpt, prefix)
        return real_run(*args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "set", _spy)
    monkeypatch.setattr(sq, "_run_to_memory", _run)
    for gate in (sq.stream_windowed_rollup, sq.stream_sessionization,
                 sq.stream_stream_join, sq.stream_dedup_events):
        assert gate(caller, sf_dir).collect()
    assert [w[1:] for w in writes if w[0]] == []
    assert caller.conf.get("spark.sql.shuffle.partitions") == "5"
    assert len(ckpts) == 4
    for ckpt in ckpts:
        parts = os.listdir(os.path.join(ckpt, "state", "0"))
        assert sorted(int(p) for p in parts if p.isdigit()) == \
            list(range(8)), ckpt
