"""manifest_feed Structured Streaming source (X50, sources/feed_source.py).

Pins the properties that make it a real streaming source: stream ==
snapshot on bootstrap, exactly-once delta delivery across RESTARTS
(Spark's offset log + version offsets), compaction transparency under
ignoreReplaces, and a loud failure without it.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pdf_parse_vector_db_spark.sources import manifest as M
from pdf_parse_vector_db_spark.sources.feed_source import ManifestFeedDataSource


def _df(spark, lo, hi, level=3):
    return spark.range(lo, hi).select("id", F.lit(level).alias("court_level"))


def _drain(spark, table, ckpt):
    """Run one availableNow pass of the feed; return the batches' id lists."""
    got: list[list[int]] = []
    q = (
        spark.readStream.format("manifest_feed")
        .option("table", table)
        .load()
        .writeStream.foreachBatch(
            lambda b, i: got.append(sorted(r.id for r in b.collect()))
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return got


@pytest.fixture(autouse=True)
def _register(spark):
    spark.dataSource.register(ManifestFeedDataSource)


def test_bootstrap_equals_snapshot_then_deltas_survive_restart(spark, tmp_path):
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    M.commit_append(spark, t, _df(spark, 0, 10), partition_by=("court_level",))
    M.commit_append(spark, t, _df(spark, 10, 15, level=4), partition_by=("court_level",))

    got = _drain(spark, t, ckpt)
    assert sorted(x for b in got for x in b) == list(range(15))  # == snapshot
    # the hive partition column came through the arrow scan
    sdf = spark.readStream.format("manifest_feed").option("table", t).load()
    assert set(sdf.columns) == {"id", "court_level"}

    # restart the stream on the SAME checkpoint after two more commits:
    # only the delta arrives, once
    M.commit_append(spark, t, _df(spark, 15, 18), partition_by=("court_level",))
    M.commit_append(spark, t, _df(spark, 18, 20), partition_by=("court_level",))
    got2 = _drain(spark, t, ckpt)
    assert sorted(x for b in got2 for x in b) == list(range(15, 20))
    # nothing new -> an empty pass, never a replay
    got3 = _drain(spark, t, ckpt)
    assert sorted(x for b in got3 for x in b) == []


def test_compaction_is_invisible_under_ignore_replaces(spark, tmp_path):
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    M.commit_append(spark, t, _df(spark, 0, 10))
    assert sorted(x for b in _drain(spark, t, ckpt) for x in b) == list(range(10))

    # compact (replace) + append while the stream is down
    commits = M._read_manifest(spark, t, 1)["commits"]
    M.commit_replace(spark, t, M.snapshot(spark, t)[1], drop_commits=commits)
    M.commit_append(spark, t, _df(spark, 10, 12))
    got = _drain(spark, t, ckpt)
    # the rewrite's rows are NOT re-delivered; the append is
    assert sorted(x for b in got for x in b) == [10, 11]


def test_replace_fails_loudly_without_ignore_replaces(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))
    commits = M._read_manifest(spark, t, 1)["commits"]
    M.commit_replace(spark, t, M.snapshot(spark, t)[1], drop_commits=commits)
    q = (
        spark.readStream.format("manifest_feed")
        .option("table", t)
        .option("ignoreReplaces", "false")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="replace-commit"):
        q.awaitTermination(180)


def test_empty_table_schema_inference_refuses(spark, tmp_path):
    with pytest.raises(Exception, match="at least one commit"):
        (
            spark.readStream.format("manifest_feed")
            .option("table", str(tmp_path / "never"))
            .load()
        )


def _land(spark, path, lo, hi, mode="append"):
    _df(spark, lo, hi).write.mode(mode).parquet(path)


def _sink_pass(spark, land, table, ckpt):
    q = (
        spark.readStream.schema("id bigint, court_level int")
        .parquet(land)
        .writeStream.format("manifest_feed")
        .option("table", table)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None


def test_sink_commits_each_batch_exactly_once(spark, tmp_path):
    """Native exactly-once sink: every micro-batch is ONE manifest
    version keyed by batch id; a replayed commit (crash between sink
    commit and checkpoint write) is a no-op that deletes its re-staged
    files; the table reads back complete and duplicate-free."""
    import os

    land = str(tmp_path / "land")
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _land(spark, land, 0, 20, mode="overwrite")
    _sink_pass(spark, land, t, ckpt)
    v, df = M.snapshot(spark, t)
    assert df.count() == 20
    _land(spark, land, 20, 25)
    _sink_pass(spark, land, t, ckpt)
    v2, df2 = M.snapshot(spark, t)
    assert v2 > v and sorted(r.id for r in df2.collect()) == list(range(25))
    keys = M._read_manifest(spark, t, v2)["keys"]
    assert any(k.startswith("manifest-sink-b") for k in keys)

    # replay the LAST batch's commit by hand: same key, fresh staged dir
    from pdf_parse_vector_db_spark.sources.feed_source import _py_commit_append

    ghost_rel = "data/replayghost"
    ghost = os.path.join(t, ghost_rel)
    os.makedirs(ghost)
    open(os.path.join(ghost, "part-00000.parquet"), "wb").write(b"x")
    replay_key = [k for k in keys if k.startswith("manifest-sink-b")][-1]
    assert _py_commit_append(t, [ghost_rel], replay_key) == v2  # no-op
    assert not os.path.exists(ghost)  # re-staged files swept
    assert M.snapshot(spark, t)[1].count() == 25


def test_python_and_jvm_writers_race_safely(spark, tmp_path):
    """The sink's pure-Python CAS and the JVM-side manifest CAS use the
    same syscalls (O_EXCL claim, link(2) publish, token verify) — racing
    them on ONE table must land every commit on a distinct version."""
    import os
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parse_vector_db_spark.sources.feed_source import _py_commit_append

    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 5))  # bootstrap the table
    versions, errors = [], []
    barrier = threading.Barrier(4)

    def py_writer(i):
        try:
            rel = f"data/py{i}"
            os.makedirs(os.path.join(t, rel))
            pq.write_table(
                pa.table({"id": pa.array([100 + i], pa.int64()),
                          "court_level": pa.array([3], pa.int32())}),
                os.path.join(t, rel, "part-00000.parquet"),
            )
            barrier.wait(60)
            versions.append(_py_commit_append(t, [rel], f"py-{i}"))
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    def jvm_writer(i):
        try:
            df = _df(spark, 200 + i, 201 + i)
            barrier.wait(60)
            versions.append(M.commit_append(spark, t, df))
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=py_writer, args=(i,)) for i in range(2)] + [
        threading.Thread(target=jvm_writer, args=(i,)) for i in range(2)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(180)
    assert not errors, errors
    assert sorted(versions) == [2, 3, 4, 5]  # all land, all distinct
    assert M.snapshot(spark, t)[1].count() == 5 + 2 + 2


def test_python_sink_waits_out_a_live_claim(spark, tmp_path):
    """A claim held by a writer that is still publishing is not a lost
    race: the Python sink must wait for that version to land and commit
    the next one, not burn its 20 retries re-reading the same head."""
    import json
    import os
    import threading

    from pdf_parse_vector_db_spark.sources.feed_source import _py_commit_append

    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 5))
    mdir = os.path.join(t, "_manifests")
    claim = os.path.join(mdir, "v2.claim")
    open(claim, "w").close()  # another writer claimed v2 ...

    def publish():  # ... and publishes it 100 ms later
        with open(os.path.join(mdir, "v1.json")) as f:
            m = json.load(f)
        m.update(version=2, parent=1)
        with open(os.path.join(mdir, "v2.json"), "w") as f:
            json.dump(m, f)
        os.remove(claim)

    timer = threading.Timer(0.1, publish)
    timer.start()
    os.makedirs(os.path.join(t, "data", "py"))
    try:
        assert _py_commit_append(t, ["data/py"], "py-late") == 3
    finally:
        timer.join(10)
    assert not timer.is_alive()


def test_table_as_stream_hub_sink_then_feed(spark, tmp_path):
    """Round trip: a stream WRITES into the manifest table (native sink)
    and another stream READS it back (native source) — the table layer is
    a durable exactly-once stream hub end to end."""
    land = str(tmp_path / "land")
    t = str(tmp_path / "tbl")
    _land(spark, land, 0, 30, mode="overwrite")
    _sink_pass(spark, land, t, str(tmp_path / "ckpt_in"))
    got = _drain(spark, t, str(tmp_path / "ckpt_out"))
    assert sorted(x for b in got for x in b) == list(range(30))


def test_batch_read_is_snapshot_with_time_travel(spark, tmp_path):
    """spark.read.format('manifest_feed') binds one manifest version at
    planning time; the `version` option time-travels."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10), partition_by=("court_level",))
    M.commit_append(spark, t, _df(spark, 10, 15, level=4), partition_by=("court_level",))
    df = spark.read.format("manifest_feed").option("table", t).load()
    assert sorted(r.id for r in df.collect()) == list(range(15))
    assert df.filter(F.col("court_level") == 4).count() == 5  # hive col
    old = (
        spark.read.format("manifest_feed")
        .option("table", t)
        .option("version", "1")
        .load()
    )
    assert sorted(r.id for r in old.collect()) == list(range(10))


def test_batch_write_appends_through_the_cas(spark, tmp_path):
    """df.write.format('manifest_feed').mode('append') CAS-commits one
    version; overwrite is refused (rewrites are commit_replace's job);
    and the written table reads back via the JVM-side snapshot too."""
    t = str(tmp_path / "tbl")
    _df(spark, 0, 10).write.format("manifest_feed").option("table", t).mode(
        "append"
    ).save()
    _df(spark, 10, 15).write.format("manifest_feed").option("table", t).mode(
        "append"
    ).save()
    v, df = M.snapshot(spark, t)
    assert sorted(r.id for r in df.collect()) == list(range(15))
    with pytest.raises(Exception, match="append-only"):
        _df(spark, 0, 1).write.format("manifest_feed").option("table", t).mode(
            "overwrite"
        ).save()


def test_feed_composes_with_event_time_windows(spark, tmp_path):
    """The source composes with ordinary event-time machinery: a
    watermarked tumbling-window count over the feed equals the same
    aggregation over the snapshot (stream == batch)."""
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    events = spark.range(0, 120).select(
        F.col("id"),
        F.lit(3).alias("court_level"),
        F.to_timestamp(
            F.concat(F.lit("2026-01-01 00:"), F.lpad((F.col("id") % 60), 2, "0"), F.lit(":00"))
        ).alias("ts"),
    )
    M.commit_append(spark, t, events)
    got: list = []
    q = (
        spark.readStream.format("manifest_feed")
        .option("table", t)
        .load()
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("complete")
        .foreachBatch(
            lambda b, i: got.append(
                sorted((r["window"]["start"].isoformat(), r["n"]) for r in b.collect())
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    batch = sorted(
        (r["window"]["start"].isoformat(), r["n"])
        for r in M.snapshot(spark, t)[1]
        .groupBy(F.window("ts", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got and got[-1] == batch and sum(n for _, n in batch) == 120


def test_python_cas_sweeps_dead_claimants(spark, tmp_path):
    """A crashed Python-sink claimant must not wedge later Python
    commits: an aged claim with no published manifest is swept and the
    commit lands (mirrors the JVM path's self-healing)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parse_vector_db_spark.sources.feed_source import _py_commit_append

    t = str(tmp_path / "tbl")
    os.makedirs(f"{t}/_manifests")
    claim = f"{t}/_manifests/v1.claim"
    open(claim, "w").close()
    past = os.path.getmtime(claim) - 120
    os.utime(claim, (past, past))
    rel = "data/solo"
    os.makedirs(os.path.join(t, rel))
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64())}),
        os.path.join(t, rel, "part-00000.parquet"),
    )
    assert _py_commit_append(t, [rel], "k1") == 1
    assert not os.path.exists(claim)
    assert M.snapshot(spark, t)[1].count() == 1


def test_feed_and_batch_read_under_schema_evolution(spark, tmp_path):
    """A later commit adds a column: the inferred schema is the WIDEST
    one, old commits' rows null-fill (both read paths), and the feed
    still delivers every row."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 5))
    M.commit_append(spark, t, _df(spark, 5, 8).withColumn("source", F.lit("crawl")))
    df = spark.read.format("manifest_feed").option("table", t).load()
    assert set(df.columns) == {"id", "court_level", "source"}
    rows = {r.id: r.source for r in df.collect()}
    assert rows[0] is None and rows[6] == "crawl"
    got = _drain(spark, t, str(tmp_path / "ckpt"))
    assert sorted(x for b in got for x in b) == list(range(8))


def test_scan_parallelism_is_per_file_not_per_commit(spark, tmp_path):
    """A multi-file commit (e.g. a compaction of the whole table) must
    fan out one scan task per parquet file — commit-granular tasks would
    serialize the biggest commits exactly when parallelism matters most."""
    from pdf_parse_vector_db_spark.sources.feed_source import (
        ManifestFeedStreamReader,
        _commit_slices,
    )

    t = str(tmp_path / "tbl")
    M.commit_append(
        spark, t, _df(spark, 0, 60).repartition(6), partition_by=("court_level",)
    )
    commit = M._read_manifest(spark, t, 1)["commits"][0]
    slices = _commit_slices(f"{t}/{commit}")
    assert len(slices) >= 6 and all(len(s.files) == 1 for s in slices)

    reader = ManifestFeedStreamReader(
        spark.read.format("manifest_feed").option("table", t).load().schema,
        {"table": t},
    )
    parts = reader.partitions({"version": 0}, {"version": 1})
    assert len(parts) == len(slices)
    # and the partitioned read still reassembles the exact rows
    df = spark.read.format("manifest_feed").option("table", t).load()
    assert sorted(r.id for r in df.collect()) == list(range(60))


def test_starting_version_skips_history(spark, tmp_path):
    """startingVersion bootstraps the stream at a cursor instead of the
    table's beginning — the Delta startingVersion contract."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))
    M.commit_append(spark, t, _df(spark, 10, 15))
    got: list[list[int]] = []
    q = (
        spark.readStream.format("manifest_feed")
        .option("table", t)
        .option("startingVersion", "1")
        .load()
        .writeStream.foreachBatch(
            lambda b, i: got.append(sorted(r.id for r in b.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(x for b in got for x in b) == list(range(10, 15))


def _drain_capped(spark, t, ckpt, got, max_commits, expect_rows, timeout_s=120):
    """Run a capped feed with a steady trigger until `expect_rows` ids
    arrive (admission control needs latestOffset called once per trigger;
    availableNow captures the end offset once, so it can't exercise it)."""
    import time

    q = (
        spark.readStream.format("manifest_feed")
        .option("table", t)
        .option("maxCommitsPerBatch", max_commits)
        .load()
        .writeStream.foreachBatch(
            lambda b, i: got.append(sorted(r.id for r in b.collect()))
        )
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    deadline = time.time() + timeout_s
    while time.time() < deadline and sum(len(b) for b in got) < expect_rows:
        time.sleep(1)
    time.sleep(2)  # let the final commit() land before stopping
    q.stop()


def test_max_commits_per_batch_bounds_catchup(spark, tmp_path):
    """Admission control (Delta maxFilesPerTrigger parity, in commit
    dirs): a 6-commit backlog drains in ≥3 bounded batches under
    maxCommitsPerBatch=2 — never one giant catch-up batch — and the
    union is still exactly the snapshot, exactly once. Then a RESTART
    with new commits stays bounded and replays nothing (Spark re-plans
    the checkpointed window via partitions(), priming the cursor)."""
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    for i in range(6):
        M.commit_append(spark, t, _df(spark, i * 10, i * 10 + 10))
    got: list[list[int]] = []
    _drain_capped(spark, t, ckpt, got, max_commits=2, expect_rows=60)
    batches = [b for b in got if b]
    assert len(batches) >= 3, [len(b) for b in got]
    assert all(len(b) <= 20 for b in batches), [len(b) for b in got]
    assert sorted(x for b in got for x in b) == list(range(60))

    for i in range(6, 8):
        M.commit_append(spark, t, _df(spark, i * 10, i * 10 + 10))
    got2: list[list[int]] = []
    _drain_capped(spark, t, ckpt, got2, max_commits=2, expect_rows=20)
    assert sorted(x for b in got2 for x in b) == list(range(60, 80))
    assert all(len(b) <= 20 for b in got2 if b), [len(b) for b in got2]


def test_max_commits_per_batch_skips_replaces_and_restores(spark, tmp_path):
    """Rewrite versions consume no admission budget and stream no rows
    themselves: a compaction and a restore inside the backlog are
    skipped, every APPEND in history streams exactly once, bounded
    (≤1 commit ⇒ ≤10 rows per batch). Note the Delta-CDF-parity
    semantics: the feed walks history, so an append a LATER restore
    undid (v4 here) still streams — under ignoreReplaces the restore is
    a skipped rewrite, not a retraction. A consumer that must exclude
    undone rows bootstraps from a post-restore snapshot instead."""
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    M.commit_append(spark, t, _df(spark, 0, 10))    # v1
    M.commit_append(spark, t, _df(spark, 10, 20))   # v2
    M.maybe_compact(spark, t, max_live_commits=1)   # v3: replace
    M.commit_append(spark, t, _df(spark, 20, 30))   # v4
    M.restore_table(spark, t, 3)                    # v5: restore (drops v4)
    M.commit_append(spark, t, _df(spark, 30, 40))   # v6
    got: list[list[int]] = []
    _drain_capped(spark, t, ckpt, got, max_commits=1, expect_rows=40)
    assert sorted(x for b in got for x in b) == list(range(40))
    assert all(len(b) <= 10 for b in got if b), [len(b) for b in got]


@pytest.mark.slow
def test_sustained_ingest_feed_sync_stays_bounded(spark, tmp_path):
    """Mini-soak (the tools/feed_soak.py loop in the default gate, 60
    micro-batches): sustained ingest→CDC-sync→compact→vacuum keeps every
    piece of long-lived state BOUNDED — the idempotency ledger at its
    sliding window, live commits under the compaction cap, retained
    manifest files under the vacuum horizon — while the index stays
    EXACTLY equal to the source at every checkpoint. The 600-batch,
    capped-driver version runs via `python tools/feed_soak.py` (measured
    round 8: exact, ledger 100, flat heap)."""
    import os as _os

    from pdf_parse_vector_db_spark.operators import ivf_index

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    n, rows_per_batch = 60, 10
    seeds = None
    cursor = 0
    max_ledger = max_live = max_manifests = 0

    def mk_batch(i):
        lo = i * rows_per_batch
        return spark.range(lo, lo + rows_per_batch).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[(F.col("id") * (j + 1) % 97).cast("float") for j in range(8)]
            ).alias("embedding"),
            (F.col("id") % 3).cast("int").alias("label"),
        )

    for i in range(n):
        M.commit_append(spark, src, mk_batch(i), idempotency_key=f"soak-b{i}")
        if i % 5 == 4:
            if seeds is None:
                # localCheckpoint materializes into a fresh plan and DROPS
                # the producer's size-gated broadcast hint — re-attach it
                # (these seeds are ~√N rows, far under the gate's bound)
                seeds = F.broadcast(
                    ivf_index.corpus_seeds(M.snapshot(spark, src)[1]).localCheckpoint()
                )
            cursor = ivf_index.sync_ivf_index_from_feed(spark, src, idx, seeds, cursor)
        if i % 20 == 19:
            M.maybe_compact(spark, src, max_live_commits=10)
            M.vacuum(spark, src, keep_versions=15, min_age_s=0)
            cursor = ivf_index.sync_ivf_index_from_feed(spark, src, idx, seeds, cursor)
            assert M.snapshot(spark, idx)[1].count() == (i + 1) * rows_per_batch
        head = M.head_version(spark, src)
        man = M._read_manifest(spark, src, head)
        max_ledger = max(max_ledger, len(man.get("keys") or {}))
        max_live = max(max_live, len(man["commits"]))
        max_manifests = max(
            max_manifests,
            len([f for f in _os.listdir(f"{src}/{M._MANIFESTS}") if f.endswith(".json")]),
        )
    cursor = ivf_index.sync_ivf_index_from_feed(spark, src, idx, seeds, cursor)
    assert M.snapshot(spark, idx)[1].count() == n * rows_per_batch
    assert max_ledger <= M._KEY_WINDOW
    assert max_live <= 10 + 20  # compaction cap + one inter-compaction window
    assert max_manifests <= 15 + 20 + 1  # vacuum horizon + one window


def test_read_change_feed_streams_row_level_changes(spark, tmp_path):
    """Delta readChangeFeed parity on the streaming source: appends
    arrive as inserts, a MERGE rewrite streams its staged pre/postimage
    and insert rows, compaction (row-preserving) contributes nothing,
    and every row carries its commit version — exactly once across the
    whole history."""
    t = str(tmp_path / "tbl")
    M.commit_append(
        spark, t,
        spark.createDataFrame([(i, 3) for i in range(10)], ["id", "court_level"]),
    )  # v1
    M.commit_merge(
        spark, t,
        spark.createDataFrame([(5, 9), (100, 9)], ["id", "court_level"]),
        key_cols=("id",), change_feed=True,
    )  # v2
    M.commit_append(spark, t, _df(spark, 200, 203))  # v3
    M.maybe_compact(spark, t, max_live_commits=1)  # v4: row-preserving (2 live)
    M.commit_append(spark, t, _df(spark, 300, 303))  # v5

    got: list[tuple] = []
    q = (
        spark.readStream.format("manifest_feed")
        .option("table", t)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.foreachBatch(
            lambda b, i: got.extend(
                (r.id, r.court_level, r._change_type, r._commit_version)
                for r in b.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    by_version = {}
    for row in got:
        by_version.setdefault(row[3], set()).add(row[:3])
    assert set(by_version) == {1, 2, 3, 5}  # v4 (compaction) contributed nothing
    assert by_version[1] == {(i, 3, "insert") for i in range(10)}
    assert by_version[2] == {
        (5, 3, "update_preimage"),
        (5, 9, "update_postimage"),
        (100, 9, "insert"),
    }
    assert by_version[3] == {(i, 3, "insert") for i in range(200, 203)}
    assert by_version[5] == {(i, 3, "insert") for i in range(300, 303)}
    assert len(got) == 19  # exactly once: 10 + 3 + 3 + 3


def test_read_change_feed_fails_on_undeclared_rewrite(spark, tmp_path):
    """A rewrite with neither change files nor a row_preserving
    declaration poisons a CDF stream loudly (ignoreReplaces does not
    apply — silently skipping a data-changing rewrite would corrupt the
    row-level feed)."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))  # v1
    commits = M._read_manifest(spark, t, 1)["commits"]
    M.commit_replace(spark, t, M.snapshot(spark, t)[1].filter(F.col("id") < 5),
                     drop_commits=commits)  # v2: undeclared data change
    q = (
        spark.readStream.format("manifest_feed")
        .option("table", t)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="no change files|StreamingQuery"):
        q.awaitTermination(180)
        if q.exception() is not None:
            raise q.exception()
    q.stop()
