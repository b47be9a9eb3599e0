"""Manifest-committed table layer (sources/manifest.py, round 6).

The properties that make it a real commit protocol, each pinned:
rename-CAS loses cleanly under racing writers (every commit lands,
versions are distinct), snapshots are immutable (an old snapshot
DataFrame still collects its old rows after later commits), replace is
conflict-checked, time travel works until vacuum reclaims, and vacuum
never touches retained versions.
"""

from __future__ import annotations

import os
import threading

import pytest

from pyspark.sql import functions as F

from pdf_parse_vector_db_spark.sources import manifest as M


def _df(spark, lo, hi, level=3):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(level).alias("court_level")
    )


def test_append_snapshot_roundtrip_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert M.snapshot(spark, t) == (0, None)
    v1 = M.commit_append(spark, t, _df(spark, 0, 10), partition_by=("court_level",))
    v2 = M.commit_append(spark, t, _df(spark, 10, 15, level=4), partition_by=("court_level",))
    assert (v1, v2) == (1, 2)
    v, df = M.snapshot(spark, t)
    assert v == 2 and df.count() == 15
    # partition column survived staging
    assert df.filter(F.col("court_level") == 4).count() == 5
    # time travel: v1 is still exactly the first commit
    _, old = M.snapshot(spark, t, version=1)
    assert old.count() == 10


def test_racing_appends_all_land_with_distinct_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versions: list[int] = []
    errors: list[BaseException] = []

    def writer(i):
        try:
            versions.append(
                M.commit_append(spark, t, _df(spark, i * 100, i * 100 + 10))
            )
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    # 10 writers through a barrier: this exact test (at 6 writers, no
    # barrier) caught Hadoop LocalFileSystem's rename TOCTOU — two
    # writers winning one version, a commit silently lost — which is why
    # the claim step is java.io.File.createNewFile / exclusive create
    barrier = threading.Barrier(10)

    def synced(i):
        barrier.wait(60)
        writer(i)

    threads = [threading.Thread(target=synced, args=(i,)) for i in range(10)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(180)
    assert not errors, errors
    assert sorted(versions) == list(range(1, 11))  # every CAS winner distinct
    v, df = M.snapshot(spark, t)
    assert v == 10 and df.count() == 100  # no lost writes


def test_snapshots_are_immutable_under_later_commits(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))
    _, snap = M.snapshot(spark, t)
    M.commit_append(spark, t, _df(spark, 10, 30))
    # the OLD DataFrame still reads its own snapshot's files
    assert snap.count() == 10
    assert M.snapshot(spark, t)[1].count() == 30


def test_replace_compacts_and_conflicts_are_detected(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))
    M.commit_append(spark, t, _df(spark, 10, 20))
    commits = M._read_manifest(spark, t, 2)["commits"]
    _, before = M.snapshot(spark, t)
    rows_before = sorted(r["id"] for r in before.collect())

    v3 = M.commit_replace(spark, t, before, drop_commits=list(commits))
    assert v3 == 3
    v, after = M.snapshot(spark, t)
    assert v == 3
    assert sorted(r["id"] for r in after.collect()) == rows_before
    # replacing an already-replaced commit must refuse, not corrupt
    try:
        M.commit_replace(spark, t, _df(spark, 0, 1), drop_commits=[commits[0]])
        raise AssertionError("conflicting replace must raise")
    except IOError:
        pass
    # pre-replace snapshot still time-travels until vacuum
    assert M.snapshot(spark, t, version=2)[1].count() == 20


def test_vacuum_reclaims_only_unreferenced(spark, tmp_path):
    import os

    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))
    M.commit_append(spark, t, _df(spark, 10, 20))
    commits = M._read_manifest(spark, t, 2)["commits"]
    M.commit_replace(spark, t, M.snapshot(spark, t)[1], drop_commits=list(commits))
    assert len(os.listdir(f"{t}/data")) == 3
    # a fresh unreferenced dir is protected by the grace window (it
    # may be a racing writer's in-flight stage) ...
    assert M.vacuum(spark, t, keep_versions=1) == 0
    # ... and reclaimed once demonstrably old
    removed = M.vacuum(spark, t, keep_versions=1, min_age_s=0)
    assert removed == 2  # the two replaced commit dirs
    assert len(os.listdir(f"{t}/data")) == 1
    v, df = M.snapshot(spark, t)
    assert v == 3 and df.count() == 20
    # pre-replace manifests are gone with their files
    assert M.head_version(spark, t) == 3
    assert not os.path.exists(f"{t}/_manifests/v1.json")


def test_published_manifest_carries_writer_fencing_token(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 5))
    man = M._read_manifest(spark, t, 1)
    assert len(man.get("writer", "")) == 32  # per-attempt uuid4 hex


def test_atomic_publish_refuses_to_overwrite(spark, tmp_path):
    """The publish primitive itself is the CAS: linking onto an existing
    manifest must fail and leave the winner's bytes untouched."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 5))
    jvm, fs = M._jvm_fs(spark, t)
    dst_s = f"{t}/_manifests/v1.json"
    before = open(dst_s, "rb").read()
    tmp_s = f"{t}/_manifests/v1.json.tmp.attacker"
    with open(tmp_s, "wb") as fh:
        fh.write(b'{"forged": true}')
    assert M._atomic_publish(jvm, fs, tmp_s, dst_s) is False
    assert open(dst_s, "rb").read() == before


def test_paused_lease_steal_cannot_lose_a_commit(spark, tmp_path):
    """The ADVICE race: claimant A pauses past the grace window, a loser
    sweeps its claim, writer C takes the version and publishes — then A
    wakes and tries to publish 'its' version. A's publish must fail and
    C's manifest must survive byte-for-byte."""
    import os

    t = str(tmp_path / "tbl")
    os.makedirs(f"{t}/_manifests")
    # A's claim, paused >60s (mtime pushed into the past)
    claim = f"{t}/_manifests/v1.claim"
    open(claim, "w").close()
    past = os.path.getmtime(claim) - 120.0
    os.utime(claim, (past, past))
    # C commits: first attempt loses to the stale claim but sweeps it,
    # the retry wins the version
    v = M.commit_append(spark, t, _df(spark, 0, 5))
    assert v == 1
    winner_bytes = open(f"{t}/_manifests/v1.json", "rb").read()
    # A wakes with a fully written tmp and publishes late
    a_tmp = f"{t}/_manifests/v1.json.tmp.paused"
    with open(a_tmp, "wb") as fh:
        fh.write(b'{"version": 1, "commits": ["data/ghost"], "writer": "a"}')
    jvm, fs = M._jvm_fs(spark, t)
    assert M._atomic_publish(jvm, fs, a_tmp, f"{t}/_manifests/v1.json") is False
    assert open(f"{t}/_manifests/v1.json", "rb").read() == winner_bytes
    # and the table still reads C's commit
    assert M.snapshot(spark, t)[1].count() == 5


def test_fs_now_probe_leaves_no_residue(spark, tmp_path):
    import os
    import time

    t = str(tmp_path / "tbl")
    os.makedirs(f"{t}/_manifests")
    jvm, fs = M._jvm_fs(spark, t)
    now = M._fs_now_ms(jvm, fs, f"{t}/_manifests")
    # same host here, so the fs clock tracks the local clock
    assert abs(now - time.time() * 1000.0) < 30_000
    assert not [f for f in os.listdir(f"{t}/_manifests") if f.startswith(".now.")]


def test_schema_evolution_union_by_name(spark, tmp_path):
    """Delta mergeSchema semantics: a later commit may add columns; old
    commits' rows read back null-filled under the widened schema, and
    time travel still shows the original narrow schema."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 5))
    wide = _df(spark, 5, 8).withColumn("source", F.lit("crawl-2026"))
    M.commit_append(spark, t, wide)
    v, df = M.snapshot(spark, t)
    assert v == 2 and set(df.columns) == {"id", "court_level", "source"}
    rows = {r.id: r.source for r in df.collect()}
    assert rows[0] is None and rows[6] == "crawl-2026"
    assert set(M.snapshot(spark, t, version=1)[1].columns) == {"id", "court_level"}


def test_change_feed_appends_exactly_once(spark, tmp_path):
    """Incremental consumption: each call returns exactly the rows
    appended since the cursor, the cursor is just the returned version,
    and an empty window returns None."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))
    M.commit_append(spark, t, _df(spark, 10, 15))
    cur, feed = M.table_changes(spark, t, from_version=0)
    assert cur == 2 and feed.count() == 15  # bootstrap: everything
    M.commit_append(spark, t, _df(spark, 15, 18))
    cur2, feed2 = M.table_changes(spark, t, from_version=cur)
    assert cur2 == 3
    assert sorted(r.id for r in feed2.collect()) == [15, 16, 17]  # only the delta
    cur3, feed3 = M.table_changes(spark, t, from_version=cur2)
    assert (cur3, feed3) == (3, None)  # caught up


def test_change_feed_replace_commits(spark, tmp_path):
    """A compaction inside the window must raise (its rows are rewrites,
    not new data) unless ignore_replaces, which skips the rewrite but
    still delivers appends on both sides of it."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))
    cur, _ = M.table_changes(spark, t, from_version=0)
    M.commit_append(spark, t, _df(spark, 10, 15))
    commits = M._read_manifest(spark, t, 2)["commits"]
    M.commit_replace(spark, t, M.snapshot(spark, t)[1], drop_commits=commits)
    M.commit_append(spark, t, _df(spark, 15, 18))
    try:
        M.table_changes(spark, t, from_version=cur)
        raise AssertionError("replace inside the window must raise")
    except IOError:
        pass
    cur2, feed = M.table_changes(spark, t, from_version=cur, ignore_replaces=True)
    assert cur2 == 4
    assert sorted(r.id for r in feed.collect()) == [10, 11, 12, 13, 14, 15, 16, 17]


def test_change_feed_cursor_beyond_retention_raises(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for lo in range(0, 40, 10):
        M.commit_append(spark, t, _df(spark, lo, lo + 10))
    M.vacuum(spark, t, keep_versions=1, min_age_s=0)
    try:
        M.table_changes(spark, t, from_version=1)
        raise AssertionError("vacuumed cursor must raise, not silently skip")
    except IOError as exc:
        assert "retention" in str(exc)


def test_vacuum_sweeps_crash_residue(spark, tmp_path):
    """A writer that dies mid-publish leaves a staged tmp and/or a claim
    for a version that later published; vacuum reclaims both (tmps only
    once older than the grace window, claims for published versions at
    any age) without touching a LIVE writer's fresh tmp."""
    import os

    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 5))
    mdir = f"{t}/_manifests"
    old_tmp = f"{mdir}/v2.json.tmp.deadwriter"
    open(old_tmp, "wb").write(b"{}")
    past = os.path.getmtime(old_tmp) - 7200
    os.utime(old_tmp, (past, past))
    fresh_tmp = f"{mdir}/v2.json.tmp.livewriter"
    open(fresh_tmp, "wb").write(b"{}")
    garbage_claim = f"{mdir}/v1.claim"  # v1 already published
    open(garbage_claim, "w").close()
    M.vacuum(spark, t, keep_versions=2)
    assert not os.path.exists(old_tmp)
    assert os.path.exists(fresh_tmp)  # inside the grace window — maybe live
    assert not os.path.exists(garbage_claim)
    os.remove(fresh_tmp)


@pytest.mark.slow
def test_multiprocess_writers_all_land(spark, tmp_path):
    """The layer's headline claim, certified with real PROCESSES: three
    separate JVMs (not threads) race commit_append on one table through a
    file barrier; every commit lands, versions are distinct, no rows are
    lost. This is the scenario the in-JVM barrier test cannot reach — a
    cross-process TOCTOU in the claim/publish path would only show here."""
    import os
    import subprocess
    import sys
    import textwrap

    nproc = 3
    t = str(tmp_path / "tbl")
    barrier = str(tmp_path / "barrier")
    os.makedirs(barrier)
    worker = str(tmp_path / "worker.py")
    with open(worker, "w") as fh:
        fh.write(textwrap.dedent(f"""
            import os, sys, time
            sys.path.insert(0, {os.getcwd()!r})
            from pyspark.sql import SparkSession
            from pdf_parse_vector_db_spark.sources import manifest as M
            idx = int(sys.argv[1])
            spark = (SparkSession.builder.master("local[2]")
                     .appName(f"mp-writer-{{idx}}")
                     .config("spark.ui.enabled", "false")
                     .config("spark.sql.shuffle.partitions", "2")
                     .config("spark.sql.warehouse.dir", {str(tmp_path)!r} + f"/wh{{idx}}")
                     .getOrCreate())
            df = spark.range(idx * 100, idx * 100 + 10).selectExpr(
                "id", "CAST(3 AS INT) AS court_level")
            open({barrier!r} + f"/ready{{idx}}", "w").close()
            deadline = time.time() + 120
            while len(os.listdir({barrier!r})) < {nproc}:
                if time.time() > deadline:
                    raise SystemExit("barrier timeout")
                time.sleep(0.05)
            v = M.commit_append(spark, {t!r}, df)
            print(f"VERSION {{idx}} {{v}}", flush=True)
            spark.stop()
        """))
    procs = [
        subprocess.Popen(
            [sys.executable, worker, str(i)],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            cwd=os.getcwd(),
        )
        for i in range(nproc)
    ]
    outs = [p.communicate(timeout=300)[0].decode() for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    versions = sorted(
        int(line.split()[2])
        for out in outs
        for line in out.splitlines()
        if line.startswith("VERSION")
    )
    assert versions == [1, 2, 3]  # every CAS winner distinct, none lost
    v, df = M.snapshot(spark, t)
    assert v == 3 and df.count() == 30


def test_merge_rewrites_only_hit_commits(spark, tmp_path):
    """Delta-style MERGE with file pruning: an upsert touching keys in
    one commit rewrites THAT commit only — the others survive in the new
    manifest by reference — matched keys take the update row, new keys
    append, and duplicate update keys are refused."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))    # commit A: ids 0-9
    M.commit_append(spark, t, _df(spark, 10, 20))   # commit B: ids 10-19
    M.commit_append(spark, t, _df(spark, 20, 30))   # commit C: ids 20-29
    before = M._read_manifest(spark, t, 3)["commits"]

    updates = spark.createDataFrame(
        [(12, 99), (15, 99), (1000, 99)], ["id", "court_level"]
    )
    v = M.commit_merge(spark, t, updates, key_cols=("id",))
    assert v == 4
    after = M._read_manifest(spark, t, 4)["commits"]
    # A and C survive BY REFERENCE; only B (the hit commit) was dropped
    assert before[0] in after and before[2] in after and before[1] not in after
    assert len(after) == 3  # A, C, and the one rewrite commit

    _, df = M.snapshot(spark, t)
    rows = {r.id: r.court_level for r in df.collect()}
    assert len(rows) == 31  # 30 originals + 1 new key, no dup ids
    assert rows[12] == 99 and rows[15] == 99 and rows[1000] == 99
    assert rows[0] == 3 and rows[20] == 3  # untouched commits intact

    # all-new keys -> pure append, nothing dropped
    v2 = M.commit_merge(
        spark, t, spark.createDataFrame([(2000, 5)], ["id", "court_level"]), ("id",)
    )
    assert v2 == 5
    assert set(after) <= set(M._read_manifest(spark, t, 5)["commits"])

    # duplicate update keys are nondeterministic -> refused
    dup = spark.createDataFrame([(1, 1), (1, 2)], ["id", "court_level"])
    try:
        M.commit_merge(spark, t, dup, ("id",))
        raise AssertionError("duplicate update keys must raise")
    except ValueError:
        pass


def test_data_skipping_prunes_disjoint_commits(spark, tmp_path):
    """Zone-map skipping: commits carry [min,max] stats computed from the
    STAGED files; a range read opens only overlapping commits, results
    equal the unpruned filter, stats survive compaction, and commits
    without stats are never pruned (unknown != disjoint)."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 100), stats_cols=("id",))
    M.commit_append(spark, t, _df(spark, 100, 200), stats_cols=("id",))
    M.commit_append(spark, t, _df(spark, 200, 300), stats_cols=("id",))

    v, df, skipped = M.snapshot_pruned(spark, t, "id", 120, 180)
    assert v == 3 and skipped == 2
    got = sorted(r.id for r in df.collect())
    assert got == list(range(120, 181))
    # the pruned plan reads ONE commit dir
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1

    # fully disjoint range -> nothing to read at all
    v2, none_df, sk2 = M.snapshot_pruned(spark, t, "id", 900, 950)
    assert none_df is None and sk2 == 3

    # a stats-less commit must never be pruned
    M.commit_append(spark, t, _df(spark, 300, 400))  # no stats_cols
    _, df3, sk3 = M.snapshot_pruned(spark, t, "id", 120, 180)
    assert sk3 == 2  # old disjoint commits pruned; the unknown one kept
    assert sorted(r.id for r in df3.collect()) == list(range(120, 181))

    # stats survive a compaction that recomputes them for the rewrite
    commits = M._read_manifest(spark, t, 4)["commits"]
    M.commit_replace(
        spark, t, M.snapshot(spark, t)[1], drop_commits=commits, stats_cols=("id",)
    )
    _, df4, sk4 = M.snapshot_pruned(spark, t, "id", 120, 180)
    assert sk4 == 0  # one commit now spans everything
    assert sorted(r.id for r in df4.collect()) == list(range(120, 181))
    st = M._read_manifest(spark, t, 5)["stats"]
    (only,) = st.values()
    assert only["id"] == [0, 399]


def test_maybe_compact_triggers_on_commit_count(spark, tmp_path):
    """OPTIMIZE policy: below the threshold it is a no-op; above it, the
    head becomes one commit holding every row, old snapshots still time
    travel, and the change feed never re-delivers the rewrite."""
    t = str(tmp_path / "tbl")
    for lo in range(0, 40, 10):
        M.commit_append(spark, t, _df(spark, lo, lo + 10))
    assert M.maybe_compact(spark, t, max_live_commits=16) == 4  # no-op
    v = M.maybe_compact(spark, t, max_live_commits=3)
    assert v == 5
    man = M._read_manifest(spark, t, 5)
    assert len(man["commits"]) == 1
    assert M.snapshot(spark, t)[1].count() == 40
    assert M.snapshot(spark, t, version=4)[1].count() == 40  # time travel
    cur, feed = M.table_changes(spark, t, from_version=4, ignore_replaces=True)
    assert (cur, feed) == (5, None)  # the rewrite is not new rows


@pytest.mark.slow
def test_merge_randomized_equivalence(spark, tmp_path):
    """Seeded property check: for random commit partitions and random
    update sets, merge == (table ANTI-JOIN update-keys) UNION updates,
    and every commit containing no hit key survives by reference."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        t = str(tmp_path / f"tbl{trial}")
        ids = list(range(120))
        rng.shuffle(ids)
        cuts = sorted(rng.sample(range(1, 120), 3))
        chunks = [ids[a:b] for a, b in zip([0] + cuts, cuts + [120])]
        for chunk in chunks:
            M.commit_append(
                spark,
                t,
                spark.createDataFrame(
                    [(i, 3) for i in chunk], ["id", "court_level"]
                ),
            )
        upd_keys = rng.sample(range(150), 25)  # some hit, some new
        updates = spark.createDataFrame(
            [(k, 9) for k in upd_keys], ["id", "court_level"]
        )
        before = M._read_manifest(spark, t, 4)["commits"]
        hit_commits = {
            c
            for c, chunk in zip(before, chunks)
            if any(k in chunk for k in upd_keys)
        }
        M.commit_merge(spark, t, updates, key_cols=("id",))
        after = M._read_manifest(spark, t, M.head_version(spark, t))["commits"]
        for c, chunk in zip(before, chunks):
            assert (c in after) == (c not in hit_commits)
        got = {r.id: r.court_level for r in M.snapshot(spark, t)[1].collect()}
        want = {i: 3 for i in range(120)}
        want.update({k: 9 for k in upd_keys})
        assert got == want


def test_restore_rolls_forward_to_an_old_state(spark, tmp_path):
    """RESTORE parity: the new head equals the target's state, history
    only grows (the undone versions still time travel), and restoring to
    the current head is a re-runnable no-op."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))
    M.commit_append(spark, t, _df(spark, 10, 15))
    M.commit_append(spark, t, _df(spark, 15, 18))
    v4 = M.restore_table(spark, t, 1)
    assert v4 == 4
    v, df = M.snapshot(spark, t)
    assert v == 4 and sorted(r.id for r in df.collect()) == list(range(10))
    # the undone versions still time travel
    _, old = M.snapshot(spark, t, version=3)
    assert old.count() == 18
    # restore to the current head: no new version
    assert M.restore_table(spark, t, 4) == 4
    assert M.head_version(spark, t) == 4


def test_restore_is_a_replace_for_the_change_feed(spark, tmp_path):
    """A consumer at the pre-restore head must not re-consume rows: the
    restore version is skipped under ignore_replaces and fails loudly
    without it — in BOTH directions (back and forward: a forward restore
    only re-adds dirs, so the diff alone looks like an append)."""
    import pytest as _pytest

    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))   # v1
    M.commit_append(spark, t, _df(spark, 10, 15))  # v2
    M.restore_table(spark, t, 1)                   # v3: drops v2's commit
    M.restore_table(spark, t, 2)                   # v4: re-adds it (forward)
    with _pytest.raises(IOError):
        M.table_changes(spark, t, 2)
    to, df = M.table_changes(spark, t, 2, ignore_replaces=True)
    assert to == 4 and df is None  # nothing NEW was appended
    # state equals v2 again
    assert M.snapshot(spark, t)[1].count() == 15


def test_restore_past_vacuum_raises(spark, tmp_path):
    """The retention horizon is loud: once vacuum reclaimed a commit the
    target references, restore refuses instead of publishing a manifest
    that points at missing bytes."""
    import pytest as _pytest

    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))     # v1
    _, full = M.snapshot(spark, t)
    M.commit_replace(spark, t, full, drop_commits=M._read_manifest(spark, t, 1)["commits"])  # v2 rewrite
    M.vacuum(spark, t, keep_versions=1, min_age_s=0)
    with _pytest.raises(IOError):
        M.restore_table(spark, t, 1)


def test_restore_keeps_the_idempotency_ledger(spark, tmp_path):
    """Restore undoes DATA, not the exactly-once ledger: a sink batch key
    committed before the restore stays a no-op after it."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))  # v1
    M.commit_append(spark, t, _df(spark, 10, 12), idempotency_key="b7")  # v2
    M.restore_table(spark, t, 1)  # v3: b7's rows are gone
    head = M.commit_append(spark, t, _df(spark, 10, 12), idempotency_key="b7")
    assert head == 3  # replay is still a no-op
    assert M.snapshot(spark, t)[1].count() == 10


def test_delete_where_rewrites_only_overlapping_commits(spark, tmp_path):
    """DELETE with zone-map pruning: commits provably disjoint from the
    range survive by reference (same dirs in the new manifest), only the
    straddling commits rewrite, and an emptied commit is dropped."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 100), stats_cols=("id",))     # v1
    M.commit_append(spark, t, _df(spark, 100, 200), stats_cols=("id",))  # v2
    M.commit_append(spark, t, _df(spark, 200, 300), stats_cols=("id",))  # v3
    before = M._read_manifest(spark, t, 3)["commits"]
    v, rewritten = M.commit_delete(spark, t, "id", 150, 220, stats_cols=("id",))
    assert (v, rewritten) == (4, 2)  # commits 2 and 3 overlap; 1 doesn't
    after = M._read_manifest(spark, t, 4)["commits"]
    assert before[0] in after  # the disjoint commit survived BY REFERENCE
    assert before[1] not in after and before[2] not in after
    _, df = M.snapshot(spark, t)
    ids = sorted(r.id for r in df.collect())
    assert ids == list(range(0, 150)) + list(range(221, 300))
    # deleting an entire commit's range drops it outright
    v2, rw2 = M.commit_delete(spark, t, "id", 0, 149, stats_cols=("id",))
    assert rw2 >= 1
    assert sorted(r.id for r in M.snapshot(spark, t)[1].collect()) == list(
        range(221, 300)
    )
    # fully disjoint delete: no-op, same head
    v3, rw3 = M.commit_delete(spark, t, "id", 1000, 2000)
    assert (v3, rw3) == (v2, 0)


def test_optimize_clustered_makes_zone_maps_prune(spark, tmp_path):
    """The OPTIMIZE payoff: interleaved appends (every commit spans the
    whole key range — zone maps prune NOTHING) become disjoint clustered
    commits; the same range read then skips all non-overlapping buckets
    and reads the same rows."""
    t = str(tmp_path / "tbl")
    # 4 interleaved appends: each takes ids = i mod 4 over 0..199
    full = spark.range(0, 200).select("id", F.lit(3).alias("court_level"))
    for i in range(4):
        M.commit_append(
            spark, t, full.filter(F.col("id") % 4 == i), stats_cols=("id",)
        )
    _, _, skipped_before = M.snapshot_pruned(spark, t, "id", 10, 20)
    assert skipped_before == 0  # every commit spans ~[0,199]
    v = M.optimize_clustered(spark, t, "id", n_buckets=8)
    _, pruned, skipped_after = M.snapshot_pruned(spark, t, "id", 10, 20)
    assert skipped_after >= 5, skipped_after
    assert sorted(r.id for r in pruned.collect()) == list(range(10, 21))
    # full snapshot unchanged by the rewrite
    assert M.snapshot(spark, t)[1].count() == 200
    # the feed sees one replace version, skippable
    to, df = M.table_changes(spark, t, 4, ignore_replaces=True)
    assert to == v and df is None


def test_vacuum_dry_run_counts_without_deleting(spark, tmp_path):
    """DRY RUN parity: reports the same count the real vacuum reclaims,
    but every byte (data dirs, old manifests) is still there after."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))
    _, full = M.snapshot(spark, t)
    M.commit_replace(
        spark, t, full, drop_commits=M._read_manifest(spark, t, 1)["commits"]
    )
    n_dry = M.vacuum(spark, t, keep_versions=1, min_age_s=0, dry_run=True)
    assert n_dry == 1
    # nothing was touched: v1 still time travels
    assert M.snapshot(spark, t, version=1)[1].count() == 10
    n_real = M.vacuum(spark, t, keep_versions=1, min_age_s=0)
    assert n_real == n_dry


def test_delete_where_keeps_rows_with_null_predicate_col(spark, tmp_path):
    """Delta DELETE WHERE semantics: rows whose predicate column is NULL
    never match the range, so they SURVIVE the rewrite — including a
    commit whose column is entirely NULL (its [null, null] zone map reads
    as unknown, never disjoint, so it rewrites but loses nothing)."""
    t = str(tmp_path / "tbl")
    mixed = spark.range(0, 100).select(
        F.when(F.col("id") % 10 == 0, F.lit(None)).otherwise(F.col("id")).alias("id"),
        F.lit(3).alias("court_level"),
    )
    all_null = spark.range(0, 7).select(
        F.lit(None).cast("bigint").alias("id"), F.lit(4).alias("court_level")
    )
    M.commit_append(spark, t, mixed, stats_cols=("id",))     # v1
    M.commit_append(spark, t, all_null, stats_cols=("id",))  # v2
    v, rewritten = M.commit_delete(spark, t, "id", 40, 60, stats_cols=("id",))
    assert rewritten == 2  # both overlap-or-unknown
    _, df = M.snapshot(spark, t)
    rows = df.collect()
    # every NULL-id row survived: 10 from the mixed commit + 7 all-null
    assert sum(1 for r in rows if r.id is None) == 17
    kept_ids = sorted(r.id for r in rows if r.id is not None)
    assert kept_ids == [
        i for i in range(100) if i % 10 != 0 and not (40 <= i <= 60)
    ]


def test_optimize_clustered_preserves_null_clustering_rows(spark, tmp_path):
    """OPTIMIZE is row-preserving even when the clustering key has NULLs:
    NULL rows satisfy no range predicate, so they are routed into the
    first bucket explicitly — and a row-count assert guards the CAS."""
    t = str(tmp_path / "tbl")
    df = spark.range(0, 200).select(
        F.when(F.col("id") % 20 == 0, F.lit(None)).otherwise(F.col("id")).alias("id"),
        F.lit(3).alias("court_level"),
    )
    M.commit_append(spark, t, df, stats_cols=("id",))
    M.optimize_clustered(spark, t, "id", n_buckets=8)
    _, snap = M.snapshot(spark, t)
    rows = snap.collect()
    assert len(rows) == 200  # nothing vanished
    assert sum(1 for r in rows if r.id is None) == 10
    # range reads over the clustered layout still prune and still answer
    _, pruned, skipped = M.snapshot_pruned(spark, t, "id", 50, 60)
    assert skipped >= 5
    assert sorted(r.id for r in pruned.collect()) == [
        i for i in range(50, 61) if i % 20 != 0
    ]


def test_replace_with_deep_partitioning_is_not_treated_as_empty(spark, tmp_path):
    """The staged-commit emptiness probe must list RECURSIVELY: a 3-column
    partitionBy stages part files at depth 3, which fixed-depth globs
    would misread as an empty write and publish a drop-only manifest."""
    t = str(tmp_path / "tbl")
    df = spark.range(0, 24).select(
        "id",
        (F.col("id") % 2).alias("a"),
        (F.col("id") % 3).alias("b"),
        (F.col("id") % 4).alias("c"),
    )
    M.commit_append(spark, t, df)
    old = M._read_manifest(spark, t, 1)["commits"]
    v = M.commit_replace(
        spark, t, df, drop_commits=old, partition_by=("a", "b", "c")
    )
    assert v == 2
    _, snap = M.snapshot(spark, t)
    assert snap.count() == 24  # the deep-partitioned replacement is LIVE
    assert sorted(r.id for r in snap.collect()) == list(range(24))
    # and a genuinely empty deep-partitioned replace still publishes drop-only
    v2 = M.commit_replace(
        spark,
        t,
        df.filter(F.lit(False)),
        drop_commits=M._read_manifest(spark, t, v)["commits"],
        partition_by=("a", "b", "c"),
    )
    assert M.snapshot(spark, t) == (v2, None)


def test_concurrent_disjoint_merges_both_land(spark, tmp_path):
    """Delta conflict-resolution semantics: two writers merging DISJOINT
    keys that hit the SAME commit file no longer abort — the CAS loser
    restarts hit detection from the winner's head (whose replacement
    commit still carries the loser's keys) and lands as the next
    version. Both updates are live, nothing is duplicated or lost."""
    t = str(tmp_path / "tbl")
    M.commit_append(
        spark,
        t,
        spark.createDataFrame([(i, 3) for i in range(10)], ["id", "court_level"]),
    )
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def merge(key, level):
        try:
            upd = spark.createDataFrame([(key, level)], ["id", "court_level"])
            barrier.wait(60)
            M.commit_merge(spark, t, upd, key_cols=("id",))
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=merge, args=(2, 7)),
        threading.Thread(target=merge, args=(8, 9)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(180)
    assert not errors, errors
    assert M.head_version(spark, t) == 3  # both merges published versions
    got = {r.id: r.court_level for r in M.snapshot(spark, t)[1].collect()}
    want = {i: 3 for i in range(10)}
    want.update({2: 7, 8: 9})
    assert got == want


def test_concurrent_overlapping_merges_serialize(spark, tmp_path):
    """Overlapping merges both land as serialized versions: the final
    value of the contended key is exactly the CAS order's last writer
    (one of the two payloads), and row count is unchanged."""
    t = str(tmp_path / "tbl")
    M.commit_append(
        spark,
        t,
        spark.createDataFrame([(i, 3) for i in range(10)], ["id", "court_level"]),
    )
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def merge(level):
        try:
            upd = spark.createDataFrame([(5, level)], ["id", "court_level"])
            barrier.wait(60)
            M.commit_merge(spark, t, upd, key_cols=("id",))
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=merge, args=(7,)), threading.Thread(target=merge, args=(9,))]
    for th in threads:
        th.start()
    for th in threads:
        th.join(180)
    assert not errors, errors
    assert M.head_version(spark, t) == 3
    got = {r.id: r.court_level for r in M.snapshot(spark, t)[1].collect()}
    assert len(got) == 10
    assert got[5] in (7, 9)
    assert all(got[i] == 3 for i in range(10) if i != 5)


def test_merge_zone_map_pruning_and_stats_republish(spark, tmp_path):
    """Hit-detection pruning: commits provably disjoint from the updates'
    key range never reach the scan list (`_overlapping_commits` unit
    contract), stats-less and null-bound commits are conservatively kept,
    and a merge called with stats_cols re-publishes stats for its
    replacement commit so later merges/deletes keep pruning."""
    man = {
        "commits": ["data/a", "data/b", "data/c", "data/d"],
        "stats": {
            "data/a": {"id": [0, 99]},
            "data/b": {"id": [100, 199]},
            "data/c": {"id": [None, None]},  # all-null column: unknown
            # data/d: no stats recorded: unknown
        },
    }
    assert M._overlapping_commits(man, "id", 150, 160) == [
        "data/b", "data/c", "data/d"
    ]
    assert M._overlapping_commits(man, "id", None, None) == man["commits"]
    # end-to-end: merged commit re-publishes prunable stats
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 100), stats_cols=("id",))
    M.commit_append(spark, t, _df(spark, 100, 200), stats_cols=("id",))
    upd = spark.createDataFrame([(150, 9)], ["id", "court_level"])
    M.commit_merge(spark, t, upd, key_cols=("id",), stats_cols=("id",))
    man2 = M._read_manifest(spark, t, M.head_version(spark, t))
    # every live commit has id stats, including the merge's replacement
    assert all(c in man2["stats"] for c in man2["commits"])
    # and a later disjoint delete prunes down to a no-op
    v, rewritten = M.commit_delete(spark, t, "id", 500, 600)
    assert rewritten == 0


def test_optimize_zorder_prunes_both_dimensions(spark, tmp_path):
    """The Z-ORDER payoff over 1-D clustering: after interleaved appends
    (zone maps prune nothing on either column), one optimize_zorder
    rewrite makes range reads prune on BOTH columns — a 1-D clustered
    layout can only serve its own key. Row-preserving, NULLs included."""
    t = str(tmp_path / "tbl")
    # 2-D grid: a in [0,100), b in [0,100), correlated nothing; 4
    # interleaved appends each spanning the full 2-D range + some NULLs
    full = spark.range(0, 4000).select(
        F.col("id"),
        F.when(F.col("id") % 400 == 0, F.lit(None)).otherwise(
            (F.col("id") * 7) % 100
        ).alias("a"),
        ((F.col("id") * 13) % 100).alias("b"),
    )
    for i in range(4):
        M.commit_append(
            spark, t, full.filter(F.col("id") % 4 == i), stats_cols=("a", "b")
        )
    _, _, skip_a0 = M.snapshot_pruned(spark, t, "a", 10, 20)
    _, _, skip_b0 = M.snapshot_pruned(spark, t, "b", 10, 20)
    assert skip_a0 == 0 and skip_b0 == 0
    v = M.optimize_zorder(spark, t, ("a", "b"), n_buckets=8, bits=4)
    _, pa, skip_a1 = M.snapshot_pruned(spark, t, "a", 10, 20)
    _, pb, skip_b1 = M.snapshot_pruned(spark, t, "b", 10, 20)
    assert skip_a1 >= 2, skip_a1  # both dimensions now prune
    assert skip_b1 >= 2, skip_b1
    # answers unchanged and row-preserving (incl. the 10 NULL-a rows)
    _, snap = M.snapshot(spark, t)
    assert snap.count() == 4000
    assert snap.filter(F.col("a").isNull()).count() == 10
    assert sorted(r.id for r in pa.collect()) == sorted(
        r.id for r in full.filter((F.col("a") >= 10) & (F.col("a") <= 20)).collect()
    )
    # the feed sees one replace version
    to, df = M.table_changes(spark, t, 4, ignore_replaces=True)
    assert to == v and df is None


def test_optimize_zorder_all_null_dimension_falls_back(spark, tmp_path):
    """An entirely-NULL dimension gives the interleave nothing: Z-order
    degrades to 1-D clustering on the live column, still row-preserving."""
    t = str(tmp_path / "tbl")
    df = spark.range(0, 200).select(
        "id", F.lit(None).cast("long").alias("dead")
    )
    M.commit_append(spark, t, df, stats_cols=("id",))
    M.optimize_zorder(spark, t, ("dead", "id"), n_buckets=4)
    _, snap = M.snapshot(spark, t)
    assert snap.count() == 200
    _, _, skipped = M.snapshot_pruned(spark, t, "id", 0, 40)
    assert skipped >= 1


def test_merge_change_feed_emits_row_level_changes(spark, tmp_path):
    """Delta CDF parity for MERGE: the rewrite version carries exactly
    {update_preimage old-row, update_postimage new-row} for matched keys
    and {insert} for new keys, stamped with its commit version; plain
    appends stream as inserts from their commit dirs; replaying the same
    window returns the identical multiset (exactly-once by version)."""
    t = str(tmp_path / "tbl")
    M.commit_append(
        spark,
        t,
        spark.createDataFrame([(i, 3) for i in range(10)], ["id", "court_level"]),
    )  # v1
    upd = spark.createDataFrame([(5, 9), (100, 9)], ["id", "court_level"])
    v2 = M.commit_merge(spark, t, upd, key_cols=("id",), change_feed=True)
    assert v2 == 2
    to, cdf = M.table_changes_cdf(spark, t, from_version=1)
    assert to == 2
    got = {(r.id, r.court_level, r._change_type, r._commit_version) for r in cdf.collect()}
    assert got == {
        (5, 3, "update_preimage", 2),
        (5, 9, "update_postimage", 2),
        (100, 9, "insert", 2),
    }
    # full window: v1's append streams as 10 inserts + the merge's 3 rows
    _, full = M.table_changes_cdf(spark, t, from_version=0)
    rows = full.collect()
    assert sum(1 for r in rows if r._commit_version == 1) == 10
    assert all(r._change_type == "insert" for r in rows if r._commit_version == 1)
    # replay: same window, same multiset
    _, replay = M.table_changes_cdf(spark, t, from_version=0)
    assert sorted(map(tuple, replay.collect())) == sorted(map(tuple, rows))


def test_delete_change_feed_emits_deleted_rows_only(spark, tmp_path):
    """DELETE CDF: exactly the rows the predicate removed (NULL-col rows
    survive the delete and do NOT appear as deletes)."""
    t = str(tmp_path / "tbl")
    df = spark.range(0, 20).select(
        F.when(F.col("id") % 10 == 0, F.lit(None)).otherwise(F.col("id")).alias("id"),
        F.lit(3).alias("court_level"),
    )
    M.commit_append(spark, t, df, stats_cols=("id",))  # v1
    v2, _ = M.commit_delete(spark, t, "id", 5, 8, change_feed=True)
    _, cdf = M.table_changes_cdf(spark, t, from_version=1)
    got = sorted(r.id for r in cdf.collect())
    assert got == [5, 6, 7, 8]
    assert {r._change_type for r in cdf.collect()} == {"delete"}


def test_cdf_transparent_compaction_and_loud_unknown_rewrite(spark, tmp_path):
    """Row-preserving rewrites (compaction, OPTIMIZE) contribute nothing
    to the CDF and don't fail the read; a rewrite that neither carries
    change files nor declares row preservation raises — its row-level
    delta is unknowable after the fact."""
    t = str(tmp_path / "tbl")
    M.commit_append(spark, t, _df(spark, 0, 10))   # v1
    M.commit_append(spark, t, _df(spark, 10, 20))  # v2
    M.maybe_compact(spark, t, max_live_commits=1)  # v3: row-preserving
    M.optimize_clustered(spark, t, "id", n_buckets=4)  # v4: row-preserving
    to, cdf = M.table_changes_cdf(spark, t, from_version=0)
    assert to == 4
    assert cdf.count() == 20  # only the two appends' inserts
    # an undeclared rewrite poisons the window...
    commits = M._read_manifest(spark, t, 4)["commits"]
    M.commit_replace(spark, t, M.snapshot(spark, t)[1], drop_commits=commits)  # v5
    import pytest as _pytest

    with _pytest.raises(IOError, match="no change files"):
        M.table_changes_cdf(spark, t, from_version=0)
    # ...but a cursor past it reads clean
    M.commit_append(spark, t, _df(spark, 20, 25))  # v6
    _, tail = M.table_changes_cdf(spark, t, from_version=5)
    assert tail.count() == 5


def test_vacuum_reclaims_unreferenced_cdf_dirs(spark, tmp_path):
    """Change files age out with their manifests: a CDF dir referenced
    only by vacuumed versions is reclaimed; the retained head's is not."""
    import os

    t = str(tmp_path / "tbl")
    M.commit_append(
        spark,
        t,
        spark.createDataFrame([(i, 3) for i in range(10)], ["id", "court_level"]),
    )
    M.commit_merge(
        spark, t,
        spark.createDataFrame([(1, 8)], ["id", "court_level"]),
        key_cols=("id",), change_feed=True,
    )  # v2 + cdf A
    M.commit_merge(
        spark, t,
        spark.createDataFrame([(2, 8)], ["id", "court_level"]),
        key_cols=("id",), change_feed=True,
    )  # v3 + cdf B
    M.commit_append(spark, t, _df(spark, 100, 105))  # v4
    M.commit_append(spark, t, _df(spark, 105, 110))  # v5
    assert len(os.listdir(f"{t}/cdf")) == 2
    M.vacuum(spark, t, keep_versions=3, min_age_s=0)  # retains v3..v5
    assert len(os.listdir(f"{t}/cdf")) == 1  # A (v2-only) swept, B (v3) retained
    # a cursor within the retention horizon still reads the appends
    _, cdf = M.table_changes_cdf(spark, t, from_version=3)
    rows = cdf.collect()
    assert len(rows) == 10 and all(r._change_type == "insert" for r in rows)
    # a cursor past the horizon fails loudly
    import pytest as _pytest
    with _pytest.raises(IOError, match="retention horizon"):
        M.table_changes_cdf(spark, t, from_version=1)


def test_concurrent_change_feed_merges_compose(spark, tmp_path):
    """Two racing disjoint-key merges BOTH run with change_feed: both
    land (conflict restart), each rewrite version carries ITS OWN change
    files, and the CDF over the window replays the complete row-level
    history — the loser's restarted attempt re-stages its cdf against
    the winner's head, so no change row is lost or duplicated."""
    t = str(tmp_path / "tbl")
    M.commit_append(
        spark,
        t,
        spark.createDataFrame([(i, 3) for i in range(10)], ["id", "court_level"]),
    )
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def merge(key, level):
        try:
            upd = spark.createDataFrame([(key, level)], ["id", "court_level"])
            barrier.wait(60)
            M.commit_merge(spark, t, upd, key_cols=("id",), change_feed=True)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=merge, args=(2, 7)),
        threading.Thread(target=merge, args=(8, 9)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(180)
    assert not errors, errors
    assert M.head_version(spark, t) == 3
    _, cdf = M.table_changes_cdf(spark, t, from_version=1)
    got = {(r.id, r.court_level, r._change_type) for r in cdf.collect()}
    assert got == {
        (2, 3, "update_preimage"),
        (2, 7, "update_postimage"),
        (8, 3, "update_preimage"),
        (8, 9, "update_postimage"),
    }
    # each version carries exactly one merge's changes
    versions = {r._commit_version for r in cdf.collect()}
    assert versions == {2, 3}


def test_merge_idempotency_key_exactly_once(spark, tmp_path):
    """commit_merge with an idempotency key (round 9, for CDC-driven
    graph sync): a replayed window is a version-preserving no-op on all
    THREE merge routes — the replace path (hits), the append path
    (all-new keys), and the empty-table bootstrap — and a different key
    lands normally."""
    t = str(tmp_path / "tbl")

    # empty-table bootstrap routes through commit_append with the key
    v0 = M.commit_merge(
        spark, t, _df(spark, 0, 10), key_cols=("id",), idempotency_key="w0"
    )
    assert v0 == 1
    assert (
        M.commit_merge(
            spark, t, _df(spark, 0, 10, level=9), ("id",), idempotency_key="w0"
        )
        == 1
    )

    upd = spark.createDataFrame([(3, 99)], ["id", "court_level"])
    v1 = M.commit_merge(spark, t, upd, key_cols=("id",), idempotency_key="w1")
    assert v1 == 2
    # replay with the SAME key: no-op even though the payload differs
    upd2 = spark.createDataFrame([(3, 42), (4, 42)], ["id", "court_level"])
    assert M.commit_merge(spark, t, upd2, ("id",), idempotency_key="w1") == v1
    _, df = M.snapshot(spark, t)
    rows = {r.id: r.court_level for r in df.collect()}
    assert rows[3] == 99 and rows[4] == 3  # the replay changed nothing

    # all-new-keys route (append) honors the key too
    new = spark.createDataFrame([(500, 7)], ["id", "court_level"])
    v2 = M.commit_merge(spark, t, new, ("id",), idempotency_key="w2")
    assert v2 == v1 + 1
    assert M.commit_merge(spark, t, new, ("id",), idempotency_key="w2") == v2

    # a fresh key lands
    v3 = M.commit_merge(spark, t, upd2, ("id",), idempotency_key="w3")
    assert v3 == v2 + 1
    _, df = M.snapshot(spark, t)
    rows = {r.id: r.court_level for r in df.collect()}
    assert rows[3] == 42 and rows[4] == 42


def test_head_version_reads_cost_constant_gateway_calls(
    spark, tmp_path, gateway_calls
):
    """After a local table's first read, a head read makes no JVM call at
    5 or at 300 manifests: the table's Hadoop resolution is memoised, and
    the probe is os.path.exists. It returns the true max, ignores claim
    and tmp files, and falls back to the glob when the remembered head is
    gone."""
    for n in (5, 300):
        t = tmp_path / f"t{n}"
        mdir = t / "_manifests"
        mdir.mkdir(parents=True)
        for v in range(1, n + 1):
            (mdir / f"v{v}.json").write_text("{}")
        (mdir / f"v{n + 1}.claim").write_text("")
        (mdir / f"v{n + 1}.json.tmp.abc").write_text("{}")
        assert M.head_version(spark, str(t)) == n  # first read: the glob
        (mdir / f"v{n + 1}.json").write_text("{}")  # a commit lands
        assert gateway_calls(M.head_version, spark, str(t)) == (n + 1, 0)
    # the remembered head vanished (the table was recreated shorter)
    for p in mdir.iterdir():
        p.unlink()
    for v in (1, 2):
        (mdir / f"v{v}.json").write_text("{}")
    assert M.head_version(spark, str(t)) == 2


def test_head_version_agrees_across_path_forms(spark, tmp_path):
    """A table's plain absolute path, its file: URI and a relative path
    (relative to the JVM's working directory, as Spark resolves one) read
    the same head, each sees a commit written straight to v{n+1}.json,
    and each sees the table recreated with fewer versions."""
    t = tmp_path / "tbl"
    mdir = t / "_manifests"
    mdir.mkdir(parents=True)
    jvm_cwd = spark._jvm.System.getProperty("user.dir")
    forms = (str(t), t.as_uri(), os.path.relpath(t, jvm_cwd))

    def write(versions):
        for p in mdir.iterdir():
            p.unlink()
        for v in versions:
            (mdir / f"v{v}.json").write_text("{}")

    write(range(1, 4))
    assert [M.head_version(spark, f) for f in forms] == [3, 3, 3]
    for n, form in enumerate(forms, start=4):
        (mdir / f"v{n}.json").write_text("{}")
        assert M.head_version(spark, form) == n
    assert [M.head_version(spark, f) for f in forms] == [6, 6, 6]
    write((1, 2))  # recreated shorter
    assert [M.head_version(spark, f) for f in forms] == [2, 2, 2]
