"""Isolated snappy-vs-zstd A/B on the write-heavy gates (VERDICT r14 #1).

r14 shipped a session-wide `spark.sql.parquet.compression.codec=zstd` on
a min-of-3 "within noise" measurement taken on a box later shown to run
~1.45x slow with host-steal waves; the r14 driver's independent run then
regressed the write-gate cluster 10-40% with the codec as the only
plan-visible change. This probe settles it with the strongest protocol
the host allows: INTERLEAVED per-repetition A/B inside one session —
codec is a runtime SQL conf, so each repetition times the same gate
under both codecs back-to-back within one box state; a steal wave hits
both arms or neither. min-of-N per arm after one untimed warm-up
execution, each sample one bench.timed noop-sink execution
(release_persisted, then the write).

Usage: python scripts/codec_ab_probe.py [gate,gate,...] [N]
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from lakeshed import queries as q

GATES = [
    "table_update_delete",
    "table_merge_upsert",
    "table_wap_publish",
    "stream_changelog_upsert",
    "stream_static_enrich",
    "llm_dedup_clusters",
]


def main() -> None:
    gates = sys.argv[1].split(",") if len(sys.argv) > 1 else GATES
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    from lakeshed.session import get_spark

    spark = get_spark("lakeshed-codec-ab")
    spark.sparkContext.setLogLevel("ERROR")
    reg = q.spark_queries()
    out: dict[str, dict] = {}
    for name in gates:
        run = bench.noop_sink(spark, reg[name])
        bench.timed(run)  # untimed warm-up
        samples: dict[str, list[float]] = {"snappy": [], "zstd": []}
        for i in range(n):
            # alternate which codec goes first so per-position bias
            # (cache warmth, JIT tiering) cancels across repetitions
            order = ("snappy", "zstd") if i % 2 == 0 else ("zstd", "snappy")
            for codec in order:
                spark.conf.set("spark.sql.parquet.compression.codec", codec)
                samples[codec].append(round(bench.timed(run), 3))
        spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
        out[name] = {
            "snappy": samples["snappy"],
            "zstd": samples["zstd"],
            "min_snappy": min(samples["snappy"]),
            "min_zstd": min(samples["zstd"]),
            "zstd_over_snappy_min": round(
                min(samples["zstd"]) / min(samples["snappy"]), 3),
        }
        print(f"{name}: {json.dumps(out[name])}", flush=True)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
