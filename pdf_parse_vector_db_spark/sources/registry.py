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
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

#: the session conf that changes how a parquet nanosecond timestamp infers
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: inferred schema of a local parquet file, by (path, size, mtime_ns,
#: nanosAsLong): a rewrite of the file changes its key
_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path), whose schema inference runs one Spark job
    a call, with the inference memoised per version of a local file: a
    later read passes the schema it inferred, so it runs no job. Any
    other path (a directory, a remote URI) is inferred on every read."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (path, st.st_size, st.st_mtime_ns, spark.conf.get(_NANOS_AS_LONG, "false"))
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


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

    The inferred parquet schema is memoised per file version
    (_read_parquet), so only the first read of a file runs an inference
    job.

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
        spark.conf.set(_NANOS_AS_LONG, "true")
        df = _read_parquet(spark, path)
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
        df = _read_parquet(spark, path)
    if spread:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
