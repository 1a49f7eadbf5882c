"""State-store provider A/B + micro-batch decomposition (VERDICT r14 #5).

The stateful stream gates sit on a ~1.1 s harness floor
(scripts/streaming_overhead_probe.py) with 8c/32c ratios ~0.9 — the
cost is trigger/planning/commit machinery, not data-parallel work. Two
questions this probe answers with measurements:

1. **HDFS-backed (default) vs RocksDB state store** at these state
   sizes: interleaved per-repetition A/B (the provider is a session
   conf read at query START; each gate run builds a fresh query, so
   alternating the conf inside one session is a true A/B). RocksDB
   exists for state far beyond executor memory; at kilobyte state it
   pays native-store setup per partition per batch for nothing — the
   numbers quantify that so the default stays a decision, not a guess.

2. **Micro-batch duration decomposition** for the worst stateful gate
   (stream_stream_join): recentProgress durationMs per batch —
   addBatch / queryPlanning / commitOffsets / walCommit — so "the
   floor is irreducible" is a statement about named phases, not vibes.
   (Plan-cache reuse across runs is methodologically out: every timed
   run is a FRESH query over a fresh checkpoint by design — caching a
   compiled plan across runs would be result/plan caching, exactly what
   the bench rules forbid.)

Usage: python scripts/statestore_ab_probe.py [N]
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from lakeshed import queries as q

GATES = [
    "stream_stream_join",
    "stream_sessionization",
    "stream_dedup_events",
    "stream_windowed_rollup",
]
ROCKSDB = ("org.apache.spark.sql.execution.streaming."
           "state.RocksDBStateStoreProvider")
PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    from lakeshed.session import get_spark

    spark = get_spark("lakeshed-statestore-ab")
    spark.sparkContext.setLogLevel("ERROR")
    reg = q.spark_queries()
    default_provider = spark.conf.get(PROVIDER_KEY)
    print(f"default_provider={default_provider}", flush=True)
    providers = {"hdfs": default_provider, "rocksdb": ROCKSDB}

    out: dict[str, dict] = {}
    for name in GATES:
        run = bench.noop_sink(spark, reg[name])
        samples: dict[str, list[float]] = {"hdfs": [], "rocksdb": []}
        # one untimed warm-up per provider (RocksDB loads its native
        # library on first use)
        for provider in providers.values():
            spark.conf.set(PROVIDER_KEY, provider)
            bench.timed(run)
        for i in range(n):
            order = ("hdfs", "rocksdb") if i % 2 == 0 else (
                "rocksdb", "hdfs")
            for prov in order:
                spark.conf.set(PROVIDER_KEY, providers[prov])
                samples[prov].append(round(bench.timed(run), 3))
        spark.conf.set(PROVIDER_KEY, default_provider)
        out[name] = {
            **samples,
            "min_hdfs": min(samples["hdfs"]),
            "min_rocksdb": min(samples["rocksdb"]),
            "rocksdb_over_hdfs_min": round(
                min(samples["rocksdb"]) / min(samples["hdfs"]), 3),
        }
        print(f"{name}: {json.dumps(out[name])}", flush=True)

    # decomposition: run the stream_stream_join pipeline directly so the
    # query handle (and its recentProgress) is in reach — same shape as
    # the gate (_run_to_memory), fresh checkpoint
    from pyspark.sql import functions as F
    from lakeshed.streaming import queries as sq
    from lakeshed.io import load_star

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ev = load_star(spark, sf_dir, "events")["events"]
    views_dir = sq._fixture_dir(
        "ssj-views", sf_dir,
        lambda p: ev.where(F.col("event_type") == "view")
        .select("user_id", "ts").repartition(1)
        .write.mode("overwrite").parquet(p))
    buys_dir = sq._fixture_dir(
        "ssj-buys", sf_dir,
        lambda p: ev.where(F.col("event_type") == "purchase")
        .select("user_id", "ts").repartition(1)
        .write.mode("overwrite").parquet(p))
    views = (spark.readStream.schema("user_id bigint, ts timestamp")
             .parquet(views_dir)
             .select("user_id", F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", "2 hours"))
    buys = (spark.readStream.schema("user_id bigint, ts timestamp")
            .parquet(buys_dir)
            .select(F.col("user_id").alias("b_user"),
                    F.col("ts").alias("purchase_ts"))
            .withWatermark("purchase_ts", "2 hours"))
    joined = views.join(
        buys,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts")
           <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("user_id", "view_ts", "purchase_ts")
    with sq._state_partitions(spark):
        qh = (joined.writeStream.format("memory")
              .queryName("ssjprobe" + uuid.uuid4().hex[:8])
              .outputMode("append")
              .option("checkpointLocation",
                      os.path.join(tempfile.mkdtemp(
                          prefix="lakeshed-ssj-probe-"), "ckpt"))
              .trigger(availableNow=True)
              .start())
        qh.awaitTermination()
    decomp = []
    for p in qh.recentProgress:
        if isinstance(p, str):  # PySpark version differences
            p = json.loads(p)
        elif not isinstance(p, dict):
            p = json.loads(p.json)
        decomp.append({"batchId": p["batchId"],
                       "numInputRows": p["numInputRows"],
                       "durationMs": p["durationMs"]})
    print(json.dumps({"ab": out, "ssj_decomposition": decomp}, indent=1))


if __name__ == "__main__":
    main()
