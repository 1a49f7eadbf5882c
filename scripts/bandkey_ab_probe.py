"""Interleaved A/B for the r15 minhash band-key fold (VERDICT r14 #6 /
guide §2.3): the banded self-join used (int band, long bsig) as a
two-column key via a struct explode; r15 folds the band index into the
hash — xxhash64(band, slice) — so the explode emits plain longs and the
self-join + candidate exchange carry ONE 8-byte key. OLD shape
reconstructed inline (the r14 banding over the same persisted signature
frame); NEW shape is the current minhash_lsh_pairs. Interleaved reps
after one untimed warm-up per shape, each rep one bench.timed noop-sink
execution, plus value-identity of the pair set.

Usage: python scripts/bandkey_ab_probe.py [N]
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from pyspark.sql import functions as F

from lakeshed.io import load_star
from lakeshed.llm import dedup
from lakeshed.llm._persist import scoped_persist


def old_shape(spark, sf_dir):
    """r14 minhash_lsh_pairs banding: struct (band, bsig) explode,
    two-column self-join. Signature pipeline identical to the current
    code (shared minhash_signatures)."""
    docs = load_star(spark, sf_dir, "documents")["documents"]
    threshold, num_hashes, bands = 0.7, 128, 32
    rows = num_hashes // bands
    base = scoped_persist(
        "bandkey_ab_old",
        dedup.minhash_signatures(docs, "text", "doc_id", num_hashes, 42, 1),
    )
    banded = base.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), bi * rows + 1, rows)
                    ).alias("bsig"),
                )
                for bi in range(bands)
            ])
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bsig")
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bsig") == F.col("r.bsig"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return (
        cand.join(base.select(F.col("id").alias("id_a"),
                              F.col("sh").alias("sh_a")), "id_a")
        .join(base.select(F.col("id").alias("id_b"),
                          F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a", "id_b",
            F.round(dedup.jaccard(F.col("sh_a"), F.col("sh_b")), 4)
            .alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def new_shape(spark, sf_dir):
    docs = load_star(spark, sf_dir, "documents")["documents"]
    return dedup.minhash_lsh_pairs(docs, threshold=0.7)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    from lakeshed.session import get_spark

    spark = get_spark("lakeshed-bandkey-ab")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    a = {(r.id_a, r.id_b, r.jaccard)
         for r in old_shape(spark, sf).collect()}
    b = {(r.id_a, r.id_b, r.jaccard)
         for r in new_shape(spark, sf).collect()}
    runs = {"old": bench.noop_sink(spark, old_shape),
            "new": bench.noop_sink(spark, new_shape)}
    for run in runs.values():
        bench.timed(run)  # untimed warm-up
    samples = {"old": [], "new": []}
    for i in range(n):
        order = ("old", "new") if i % 2 == 0 else ("new", "old")
        for shape in order:
            samples[shape].append(round(bench.timed(runs[shape]), 3))
    print(json.dumps({
        **samples,
        "min_old": min(samples["old"]),
        "min_new": min(samples["new"]),
        "new_over_old_min": round(min(samples["new"]) /
                                  min(samples["old"]), 3),
        "pairs_identical": a == b,
        "n_pairs": len(a),
    }, indent=1))


if __name__ == "__main__":
    main()
