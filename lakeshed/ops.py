"""Relational operator helpers (SURVEY §2.3-2.6).

Most of the reference's relational surface maps 1:1 onto DataFrame calls and
needs no wrapper; this module holds the few composite operators the
reference expresses ad hoc (histogram binning, z-score outlier filter,
skew-salted join) as reusable, scale-aware plans.

Everything here is pure Catalyst — no UDFs, no collect-driven loops — so
plans stay inside whole-stage codegen and scale with partition count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def histogram(df: DataFrame, col: str, bins: int = 22,
              lo: float | None = None, hi: float | None = None) -> DataFrame:
    """A6 — histogram binning (reference: ``%sqlplot histogram --bins 22``,
    PyIceberg - Getting Started.ipynb:305; pandas ``df.hist`` :220).

    Single-pass plan: one agg for bounds (skipped when lo/hi given — at
    100 TB pass them), then a map-side ``floor((x-lo)/width)`` group-by.
    Returns (bin, lo, hi, cnt) sorted by bin.
    """
    if lo is None or hi is None:
        bounds = df.agg(
            F.min(col).alias("lo"), F.max(col).alias("hi")
        ).first()
        if bounds is None or bounds["lo"] is None or bounds["hi"] is None:
            # empty / all-NULL column: no bins to compute — empty result
            # with the documented shape (round-1 ADVICE guard).
            return df.sparkSession.createDataFrame(
                [], "bin int, bin_lo double, bin_hi double, cnt bigint"
            )
        lo = float(bounds["lo"]) if lo is None else lo
        hi = float(bounds["hi"]) if hi is None else hi
    width = (hi - lo) / bins or 1.0
    bin_col = F.least(
        F.floor((F.col(col) - F.lit(lo)) / F.lit(width)), F.lit(bins - 1)
    ).cast("int")
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bin_lo", (F.lit(lo) + F.col("bin") * F.lit(width)))
        .withColumn("bin_hi", (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)))
        .select("bin", "bin_lo", "bin_hi", "cnt")
        .orderBy("bin")
    )


def zscore_filter(df: DataFrame, col: str, z: float = 3.0) -> DataFrame:
    """P12/A7/J1 — drop rows more than ``z`` population std-devs from the mean
    (reference: ``stats.zscore`` filter, PyIceberg - Getting Started.ipynb:230;
    STDDEV_POP CTE cross-join :315).

    Plan: 1-row aggregate cross-joined (auto-broadcast) against the fact
    side — the same shape DuckDB picks for the reference's CTE. Two scans of
    ``df``; at scale prefer caching df or passing precomputed stats.
    """
    stats = df.agg(
        F.avg(col).alias("__mu"), F.stddev_pop(col).alias("__sigma")
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .where(F.abs((F.col(col) - F.col("__mu")) / F.col("__sigma")) < z)
        .drop("__mu", "__sigma")
    )


def salted_join(left: DataFrame, right: DataFrame, on: str,
                salt: int = 16, how: str = "inner") -> DataFrame:
    """Skew-mitigating equi-join: scatter each left row into one of
    ``salt`` sub-buckets of its key and replicate the right side once per
    bucket, so a hot key's rows spread over ``salt`` tasks instead of
    hammering one.

    Semantically identical to ``left.join(right, on, how)`` for any salt
    assignment — for LEFT-side-preserving joins only: the right side is
    replicated ×salt, so an outer join that preserves unmatched RIGHT
    rows would emit each of them salt times (r11 review wave 14); such
    ``how`` values are rejected. Use when ONE side is explosively skewed
    and the other is modest (the replicated side grows ×salt); for
    balanced skew prefer AQE's skew-join split (on by default in
    session.py), which salts at runtime only the partitions that
    overflow.
    """
    if how.replace("_", "").lower() in (
            "right", "rightouter", "full", "outer", "fullouter"):
        raise ValueError(
            f"salted_join cannot express {how!r}: unmatched right rows "
            "would be replicated once per salt bucket — salt the other "
            "side or use a plain join with AQE skew handling")
    sl = left.withColumn(
        "__salt", F.floor(F.rand(seed=7) * salt).cast("int")
    )
    sr = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return sl.join(sr, [on, "__salt"], how).drop("__salt")
