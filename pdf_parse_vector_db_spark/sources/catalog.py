"""Catalog + DDL surface (SURVEY §2.1 S4/S5).

The reference's storage DDL is: connect → list_collections (catalog probe)
→ has_collection guard → create_schema + create_collection (explicit,
field-by-field DDL) → create_index → load_collection (pin in memory)
(extract_and_embed_v2.py:29-61). Engine mapping:

  list_collections      → spark.catalog.listTables()
  has_collection        → spark.catalog.tableExists()
  create_collection     → CREATE TABLE IF NOT EXISTS ... USING parquet
                          PARTITIONED BY (court_level)
  create_index(IVF)     → operators/ann.build_ivf + write_ivf (partition
                          layout IS the index; no separate structure)
  load_collection       → a plain CACHE TABLE statement (lazy; pins on
                          first scan)
  insert + flush        → INSERT INTO / append write (job commit is the
                          durability barrier — S7 is a no-op)

The table is partitioned by the search path's equality-filter column, so
S3's pushed predicate becomes partition pruning against the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pdf_parse_vector_db_spark.schemas import CHUNKS_TABLE_COLUMNS_DDL

CHUNKS_TABLE = "chunks"


def list_tables(spark: SparkSession, db: str | None = None) -> list[str]:
    """S4: `list_collections()` analog (extract_and_embed.py:29-30)."""
    return [t.name for t in spark.catalog.listTables(db)]


def has_table(spark: SparkSession, name: str) -> bool:
    """S4: `has_collection(name)` create guard (extract_and_embed.py:38-41)."""
    return spark.catalog.tableExists(name)


def ensure_chunks_table(
    spark: SparkSession, name: str = CHUNKS_TABLE, location: str | None = None
) -> bool:
    """S5: idempotent explicit-schema DDL — the engine's
    `create-if-not-exists` with the Milvus collection schema mapped to Spark
    types (SURVEY §1.2). Returns True when the table was newly created.

    Partitioned by court_level: the reference's secondary-index role (filter
    evaluated inside the store, extract_and_search.py:107) is played by
    partition pruning here."""
    existed = has_table(spark, name)
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({CHUNKS_TABLE_COLUMNS_DDL}) "
        f"USING parquet PARTITIONED BY (court_level){loc}"
    )
    return not existed


def append_chunks(chunks: DataFrame, name: str = CHUNKS_TABLE) -> None:
    """S6: append sink into the cataloged table (insert,
    extract_and_embed.py:121). The per-job atomic commit IS the S7 flush."""
    chunks.write.mode("append").insertInto(name)


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort: bool = True,
) -> None:
    """Persist a table bucketed (and optionally sorted) on its join key.

    Bucketing is the batch-index analog for co-located joins: two tables
    bucketed identically on the join key join with ZERO exchange (and zero
    sort when sorted) — the shuffle was paid once at write time and is
    amortized over every subsequent join. This is the 100 TB answer for the
    repeated orders⋈lineitem / chunks⋈files joins; partitioning handles
    pruning, bucketing handles co-location."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(name)
