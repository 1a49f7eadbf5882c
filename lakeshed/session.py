"""SparkSession construction with scale-aware defaults.

Mirrors the session wiring of the reference stack
(``spark/spark-defaults.conf:22-29`` configures catalogs + extensions;
``spark/notebooks/Iceberg - Getting Started.ipynb:22`` builds the session) but
tuned for Spark-first execution:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  at 100 TB the static shuffle-partition count is always wrong; AQE fixes
  it per-stage.
- Arrow on for any pandas interchange (SURVEY §2.10 C3).
- Session timezone pinned to UTC (SURVEY §7.3 timestamp semantics — the
  reference mixes tz/naive timestamps; the DuckDB oracle also runs UTC).
- Python workers fork from :mod:`lakeshed._daemon`
  (``spark.python.daemon.module``): the stock ``pyspark.daemon`` except
  that the ``importlib.invalidate_caches()`` PySpark runs before every task
  no longer makes each cached zipimporter re-read its archive (hundreds of
  ms of CPU per task on CPython 3.11). Because Spark starts that module
  before any ``addPyFile`` ships, :func:`get_spark` prepends the directory
  holding the ``lakeshed`` package to ``spark.executorEnv.PYTHONPATH``
  (keeping any value the caller passed), so workers find it whatever the
  driver's cwd or ``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Directory holding the lakeshed package: the workers' import root.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Defaults chosen for the local[] test harness; on a real cluster the same
# keys hold, only master/memory change. shuffle.partitions matters little
# with AQE coalescing on, but a sane floor avoids 200 tiny tasks at sf0.01.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: division by zero yields NULL, matching the reference's
    # observed fare/distance -> null semantics (SURVEY §2.7) and DuckDB 1.0.
    "spark.sql.ansi.enabled": "false",
    # Broadcast threshold: dims (region/nation/customer/supplier/part at
    # test SF) must broadcast; at 100 TB the fact side never does.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.sql.shuffle.partitions": "32",
    # Parquet: vectorized reader + pushdown are defaults, pinned explicitly
    # because the engine depends on them (SURVEY §4).
    "spark.sql.parquet.filterPushdown": "true",
    # Legacy testdata generations stored events.ts as TIMESTAMP(NANOS),
    # which vanilla Spark rejects; read nanos as bigint (io.load_star
    # converts to µs). Current testdata is already µs — this conf is then
    # inert, kept for older fixture sets. io.load_star also sets it at
    # runtime, but only when the events footer really holds NANOS, so
    # gate queries survive on a vanilla (non-lakeshed) session.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # zstd for everything the engine WRITES (guide §6: smaller than
    # snappy at similar read speed — at 100 TB the table/checkpoint
    # footprint and the read bytes behind every DML scan shrink ~25-40%
    # for low single-digit % write CPU). Input testdata stays whatever
    # codec it was generated with; this affects table commits, CC/stream
    # checkpoints and fixture writes. Measured locally (bench method,
    # min-of-3 A/B at sf0.1): DML/stream gates within noise of snappy.
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.files.maxPartitionBytes": "128MB",
    # One pass over the 92 bench queries compiles ~1,000 classes; at
    # Spark's default cache of 100 entries a long-lived session cycling
    # through them recompiled ~1,150 classes per pass (bench.py rotated
    # passes, sf0.01, 4 cores: 78-86 s per pass vs 56-58 s at 4096).
    "spark.sql.codegen.cache.maxEntries": "4096",
    # Python workers fork from lakeshed._daemon: pyspark.daemon minus the
    # per-task re-read of every cached zipimporter (see that module).
    "spark.python.daemon.module": "lakeshed._daemon",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # Console progress bars write \r-spam to the terminal; in captured-output
    # harnesses (the driver's bounded tail capture) that spam can truncate
    # the one JSON line bench.py prints (r5: BENCH_r05.json parsed:null).
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.warehouse.dir": os.environ.get(
        "LAKESHED_WAREHOUSE", "/tmp/lakeshed-warehouse"
    ),
}


def get_spark(
    app_name: str = "lakeshed",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). On a real cluster pass ``None`` master via spark-submit instead.
    """
    # Derby (used by Spark's embedded catalog plumbing even without Hive
    # support — it boots an in-memory DB) writes derby.log into the JVM's
    # user.dir when derby.system.home is unset, littering the repo root on
    # every bench run. Routed through spark.driver.extraJavaOptions (r11
    # review wave 15): the previous SparkContext.setSystemProperty call
    # LAUNCHED the gateway JVM before the builder conf could reach
    # spark-submit, so spark.driver.memory was silently ignored and every
    # fresh process ran the driver on the ~1g default heap. If the JVM is
    # already up (in-process session reuse), the property is set through
    # the gateway instead — driver memory is already fixed at that point
    # either way.
    try:
        derby_home = os.environ.get("LAKESHED_DERBY_HOME")
        if derby_home is None:
            uid = os.getuid() if hasattr(os, "getuid") else "win"
            derby_home = f"/tmp/lakeshed-derby-{uid}"
        os.makedirs(derby_home, exist_ok=True)
    except OSError as e:
        # must not block session construction — but an EXPLICITLY
        # configured home that is unusable deserves a signal, not a
        # silent fallback to derby.log-in-CWD ("" counts: set-but-empty
        # is a misconfiguration, not an opt-out)
        derby_home = None
        if "LAKESHED_DERBY_HOME" in os.environ:
            import warnings

            warnings.warn(
                f"LAKESHED_DERBY_HOME={os.environ['LAKESHED_DERBY_HOME']!r}"
                f" unusable ({e!r}); Derby will use its defaults",
                RuntimeWarning, stacklevel=2)
    if derby_home is not None:
        try:
            from pyspark import SparkContext

            if SparkContext._gateway is not None:
                # JVM already launched elsewhere in-process: the builder
                # conf can't reach it, but the property still can (Derby
                # boots lazily)
                SparkContext.setSystemProperty(
                    "derby.system.home", derby_home)
                derby_home = None  # handled; skip the conf route
        except Exception:  # pragma: no cover - gateway quirks are not a
            pass  # derby-home misconfiguration; stay quiet, don't block
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    # the daemon module is imported before any pyFile reaches the worker
    py_path = "spark.executorEnv.PYTHONPATH"
    conf[py_path] = os.pathsep.join(filter(None, (_ROOT, conf.get(py_path))))
    if derby_home is not None:
        conf["spark.driver.extraJavaOptions"] = (
            conf.get("spark.driver.extraJavaOptions", "")
            + f" -Dderby.system.home={derby_home}"
        ).strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_with(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A clone of ``spark`` (its SQL conf and temp views, sharing the
    SparkContext) with ``conf`` set on the clone only: how the engine
    plans one query under settings of its own without writing the
    caller's session conf, which other threads may be planning on."""
    clone = SparkSession(spark.sparkContext,
                         spark._jsparkSession.cloneSession())
    for key, value in conf.items():
        clone.conf.set(key, value)
    return clone
