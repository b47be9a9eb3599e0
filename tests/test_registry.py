"""Fixture table reads (sources/registry.py): the parquet schema inference
is memoised per file version."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parse_vector_db_spark.sources.registry import load_table


def _jobs(spark, fn):
    """fn() in a Spark job group of its own: (its result, its job count)."""
    sc = spark.sparkContext
    group = f"registry-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_read_runs_no_job_and_a_rewrite_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    first, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs >= 1  # the schema inference
    again, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(r.a for r in again.collect()) == [1, 2, 3]

    st = os.stat(path)
    pq.write_table(pa.table({"a": [4, 5], "b": ["x", "y"]}), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    new, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs >= 1
    assert new.columns == ["a", "b"]
    assert sorted(tuple(r) for r in new.collect()) == [(4, "x"), (5, "y")]
