"""Parquet table registry (SURVEY §2.1 S3/S4/S5).

The reference's storage layer is a single Milvus collection scanned with a
pushed-down scalar filter + projection (extract_and_search.py:104-110). Ours
is Parquet read through the DataFrame API so Catalyst pushes filters and
prunes columns into the scan — `.explain` on any engine query should show
PushedFilters/ReadSchema reaching the FileScan.

At 100 TB the same code holds: the registry is a thin naming layer; swap the
directory for a table catalog (or `saveAsTable` names) and partition-prune on
the partition columns chosen in plans/ingest.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Driver fixture tables (TESTDATA.md / FIXTURES.md §A).
TABLE_NAMES = [
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
]


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Scan one fixture table. Catalog-probe analog of `has_collection`
    (extract_and_embed.py:38-41) is the file-existence check.

    The events table stores nanosecond timestamps, which Spark's parquet
    reader rejects (PARQUET_TYPE_ILLEGAL). We read them as raw INT64 nanos
    (legacy.parquet.nanosAsLong) and rebuild a microsecond TimestampType —
    the same ns→us truncation DuckDB applies, so both engines see identical
    instants.

    ``spread=True`` repartitions the scan to full parallelism before the
    caller's map stage. Parquet splits at row-group granularity, so a
    single-row-group file is one task no matter how many cores exist; for
    queries whose per-row compute (regex cascades, shingling, signature
    folds) dwarfs the row width, one narrow shuffle buys an
    N-core map stage. Leave it off for scan-bound queries — at cluster
    scale a 100 TB table already has thousands of splits and the extra
    exchange would only cost."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
            )
        elif ts_type == "timestamp_ntz":
            # Fixture refreshes have written ts as tz-less parquet micros,
            # which Spark 4 infers as TIMESTAMP_NTZ. Normalize to
            # TimestampType so every downstream plan (unix_micros, windows,
            # watermarks) sees one timestamp family; with the session in UTC
            # the wall-clock values are identical to the naive oracle's.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    if spread:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
