"""Hostile-session regression gate (round-2 VERDICT item 2).

The correctness harness builds its OWN SparkSession — no lakeshed
builder defaults, Spark 4 defaults in force (``spark.sql.ansi.enabled=
true``, no ``nanosAsLong``). Round 2 lost 13 gate queries to code that
only worked under ``lakeshed.session.get_spark()`` defaults. This module
runs EVERY registered gate query end-to-end (full collect, like the
harness) on a session forced back to that hostile state, so any new
dependency on builder conf fails here first.
"""

from __future__ import annotations

import pytest

from lakeshed.queries import spark_queries

# Conf the lakeshed builder sets that the driver's session does NOT.
# Re-forced before every query because load_star flips nanosAsLong at
# runtime when events hold NANOS — each query must survive from the cold
# state.
_HOSTILE_CONF = {
    "spark.sql.ansi.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "false",
    # keep UTC + Arrow: value semantics, not crash-surface; the driver's
    # container runs UTC and the oracle compare assumes it
    "spark.sql.session.timeZone": "UTC",
}


@pytest.fixture(scope="module")
def hostile(spark):
    """A sibling session sharing the SparkContext but with its own SQLConf.

    ``newSession()`` still inherits builder-time conf via SparkConf, so the
    hostile values are forced explicitly (and re-forced per test below).
    """
    return spark.newSession()


@pytest.mark.parametrize("name", sorted(spark_queries()))
def test_gate_query_runs_on_vanilla_session(hostile, sf_dir, name):
    for k, v in _HOSTILE_CONF.items():
        hostile.conf.set(k, v)
    df = spark_queries()[name](hostile, sf_dir)
    # Full collect — limit/count would let Catalyst prune the very
    # expressions (ANSI casts, divisions) this gate exists to exercise.
    rows = df.collect()
    assert rows is not None


def test_load_star_writes_no_session_config_for_micros(spark, sf_dir,
                                                       monkeypatch):
    """µs testdata: ``load_star`` reads every table without writing
    session config (a write races other threads sharing the session)."""
    from pyspark.sql.conf import RuntimeConfig

    from lakeshed.io import STAR_TABLES, load_star

    writes = []
    real_set = RuntimeConfig.set

    def _spy(self, key, value):
        writes.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", _spy)
    frames = load_star(spark, sf_dir)
    assert set(frames) == set(STAR_TABLES)
    assert frames["events"].schema["ts"].dataType.typeName() == "timestamp"
    assert writes == []


def test_load_star_truncates_nanos_events_on_vanilla_session(hostile,
                                                             tmp_path):
    """A TIMESTAMP(NANOS) events footer (older testdata generations) still
    loads on a vanilla session: ``load_star`` turns on ``nanosAsLong`` and
    truncates to µs, as DuckDB does."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lakeshed.io import load_star

    for k, v in _HOSTILE_CONF.items():
        hostile.conf.set(k, v)
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"user_id": [1, 2],
                  "ts": pa.array(ns, type=pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"), version="2.6")
    assert pq.read_schema(str(tmp_path / "events.parquet")).field(
        "ts").type.unit == "ns"

    ev = load_star(hostile, str(tmp_path), "events")["events"]
    assert ev.schema["ts"].dataType.typeName() == "timestamp"
    got = sorted(r[0] for r in ev.select(F.unix_micros("ts")).collect())
    assert got == [n // 1000 for n in ns]
