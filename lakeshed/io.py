"""Batch sources (SURVEY §2.1 S1-S4) and result handoff (§2.10).

Thin, tested wrappers over ``spark.read`` — the reference's scans are
verbatim Spark calls (``Iceberg - Getting Started.ipynb:77``,
``WAP...ipynb:94``), so the engine keeps them verbatim. The value added is
the star-schema loader used by every query in ``__spark_entry__``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Table names the driver materializes at /root/testdata/sf*/ (TESTDATA.md).
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S1 — Parquet batch scan, schema from footer
    (reference: Iceberg - Getting Started.ipynb:77)."""
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, multiline: bool = True) -> DataFrame:
    """S2 — JSON scan with schema inference
    (reference: Iceberg - Write-Audit-Publish (WAP) with Branches.ipynb:94).
    Inference is the JSON reader's default — no toggle needed (the
    'inferSchema' option is CSV-only and was a misleading no-op here,
    r11 review wave 15)."""
    return (
        spark.read.option("multiline", "true" if multiline else "false")
        .json(path)
    )


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to session-TZ TIMESTAMP (LTZ).

    The driver's parquet stores naive ``timestamp[us]`` (isAdjustedToUTC=
    false), which Spark 4 infers as TIMESTAMP_NTZ. The engine standardizes
    on TIMESTAMP + UTC session (SURVEY §7.3 timestamp semantics): under a
    UTC session the cast is value-identical, and it keeps the whole
    temporal surface (``unix_micros``, windows, intervals) on one type.
    DuckDB's µs TIMESTAMP sees the same values either way.
    """
    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _has_nanos(path: str) -> bool:
    """Whether the parquet footer at ``path`` holds a TIMESTAMP(NANOS)
    column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    return any(pa.types.is_timestamp(f.type) and f.type.unit == "ns"
               for f in pq.read_schema(path))


def load_star(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load driver test tables from ``sf_dir`` as DataFrames keyed by name.

    Timestamp handling must hold on a VANILLA session (the correctness
    harness builds its own SparkSession without lakeshed defaults):

    - naive ``timestamp[us]`` columns (current testdata) → cast NTZ→LTZ
      via :func:`_normalize_timestamps`;
    - legacy TIMESTAMP(NANOS) events (earlier testdata generations) would
      be rejected outright (PARQUET_TYPE_ILLEGAL), so when the footer holds
      NANOS ``nanosAsLong`` is set at runtime before the read and the
      resulting bigint is truncated to µs — the same truncation DuckDB
      applies. µs events leave the session config untouched.
    """
    use = names or STAR_TABLES
    out: dict[str, DataFrame] = {}
    for name in use:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if name == "events":
            if _has_nanos(path):
                # nanosAsLong is SQLConf-runtime-settable and consulted at
                # action time; it is intentionally NOT restored — a
                # restore would break the lazy frames returned from here.
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            if dict(df.dtypes).get("ts") == "bigint":
                # integer div: ts is ~1.7e18, float division loses precision
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            out[name] = _normalize_timestamps(df)
        else:
            out[name] = _normalize_timestamps(spark.read.parquet(path))
    return out


def register_star_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each test table as a temp view so ``spark.sql`` resolves it —
    the engine's analog of the reference catalog-table scan (S3)."""
    for name, df in load_star(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
