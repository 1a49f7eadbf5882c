"""Interleaved A/B for the r15 LSH bucket-key fold (guide §2.3): the
ann_pairs_lsh candidate self-join used int tbl + long bucket as a
two-column key; r15 folds them into one xxhash64 long before the
persist. OLD shape reconstructed inline (the same lsh_index + two-key
join the r14 code shipped); NEW shape is the current ann_pairs_lsh.
Both run in one session, interleaved per repetition after one untimed
warm-up per shape, each rep one bench.timed noop-sink execution. Also
value-compares the two outputs.

Usage: python scripts/lshkey_ab_probe.py [N]
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from pyspark.sql import functions as F

from lakeshed.io import load_star
from lakeshed.llm import similarity
from lakeshed.llm._persist import scoped_persist


def _emb(spark, sf_dir):
    emb = load_star(spark, sf_dir, "embeddings")["embeddings"]
    dim = len(emb.select("embedding").first()[0])
    return emb, dim


def old_shape(spark, sf_dir):
    """r14 ann_pairs_lsh: (id, tbl, bucket) persisted, two-key join."""
    emb, dim = _emb(spark, sf_dir)
    threshold, bits, tables, seed = 0.45, 4, 48, 42
    idx = scoped_persist(
        "lshkey_ab_old",
        similarity.lsh_index(emb, dim, bits, tables, "vec_id",
                             "embedding", seed)
        .select("id", "tbl", "bucket"),
    )
    cand = (
        idx.alias("l")
        .join(
            idx.alias("r"),
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.transform(F.col("embedding"),
                    lambda x: x.cast("double")).alias("v"),
    ).select("id", "v", similarity._norm_d(F.col("v")).alias("nrm"))
    return (
        cand.join(base.select(F.col("id").alias("id_a"),
                              F.col("v").alias("v_a"),
                              F.col("nrm").alias("n_a")), "id_a")
        .join(base.select(F.col("id").alias("id_b"),
                          F.col("v").alias("v_b"),
                          F.col("nrm").alias("n_b")), "id_b")
        .select(
            "id_a", "id_b",
            F.when(
                (F.col("n_a") * F.col("n_b") == 0.0)
                & (F.col("v_a") == F.col("v_b")),
                F.lit(1.0),
            ).otherwise(F.round(
                similarity._guarded_cos(
                    similarity._dot_d(F.col("v_a"), F.col("v_b")),
                    F.col("n_a") * F.col("n_b"),
                ),
                4,
            )).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def new_shape(spark, sf_dir):
    emb, dim = _emb(spark, sf_dir)
    return similarity.ann_pairs_lsh(emb, dim, threshold=0.45)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    from lakeshed.session import get_spark

    spark = get_spark("lakeshed-lshkey-ab")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # value-identity first (cheap corpus): same pair set either way
    a = {(r.id_a, r.id_b) for r in old_shape(spark, sf).collect()}
    b = {(r.id_a, r.id_b) for r in new_shape(spark, sf).collect()}
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
