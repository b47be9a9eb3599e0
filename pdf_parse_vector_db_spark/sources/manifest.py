"""Manifest-committed table layer: snapshot isolation without rename-swap.

Round 6 gave the IVF index lock-free consistent READS against rename-swap
republishes, but two limits remain by design there:

  * writers must serialize in-process (a swap can drop a concurrent
    append) — multi-process writers are unsafe;
  * the read protocol leans on POSIX/HDFS directory-mtime semantics,
    which object stores do not provide.

The standard cure (Delta/Iceberg/Hudi) is a MANIFEST commit protocol:
data files are immutable and uniquely named, and the table state is a
numbered manifest file listing exactly the live files. This module is
that protocol's minimal correct core, on the Hadoop FileSystem API:

  * writers stage part files under ``data/<commit-uuid>/``, then commit
    by writing ``_manifests/v{N+1}.json.tmp`` and atomically publishing
    it as ``_manifests/v{N+1}.json`` (kernel-atomic link(2) locally,
    namenode-atomic no-overwrite rename on HDFS) — a compare-and-swap on
    the version number: two racing writers (threads OR processes) cannot
    both win N+1; the loser re-reads the head and retries against N+2.
    Every manifest carries a per-attempt ``writer`` fencing token that is
    re-read from the destination after publish, so even a writer whose
    claim lease was swept while it was paused can never report success
    over another writer's committed manifest.
  * readers find the highest version (``head_version``: a forward probe
    from the last head seen, else a listing of ``_manifests``) and read
    exactly that manifest's file list — a true snapshot: no vanish
    window, no partial append, no dependence on directory mtimes. The
    probe runs in Python with os.path.exists on a ``file`` table (no JVM
    call) and with fs.exists through a cached Hadoop FileSystem on any
    other scheme (HDFS, object stores).
  * replace-commits (compaction, deletion rewrites) stage new files and
    publish a manifest that drops the replaced ones; the files
    themselves are deleted later by ``vacuum`` (only files unreferenced
    by the CURRENT head and older than a grace period — in-flight
    readers of recent snapshots keep working).

Partition semantics: a staged commit keeps whatever ``partitionBy``
layout the writer used under its commit dir; readers pass the file list
with ``basePath`` pointing at the commit dir so partition columns
survive. Cross-commit reads union per-commit DataFrames by name —
unions of parquet scans, which Catalyst plans as one multi-scan union
(filters/projections push into every leg).

CAS validity — measured, then corrected: Hadoop LocalFileSystem's
rename-onto-existing returns false in a single-threaded probe, but the
check is CHECK-THEN-RENAME — under real contention the 6-writer race
test caught two writers both winning the same version (one commit
silently lost). The claim step therefore uses a primitive that is
atomic on each backend: ``java.io.File.createNewFile`` (O_CREAT|O_EXCL
by Javadoc contract) on the local filesystem, exclusive ``fs.create``
on HDFS (atomic under the namenode lock); raw object stores need the
store's conditional-put (S3 If-None-Match) or an external lock table,
exactly as Delta/Iceberg deploy it — the manifest format is unchanged.
A claimant that dies mid-publish is self-healing: losers sweep a claim
older than a grace window that published nothing. The sweep makes the
claim a revocable LEASE, so the publish step cannot trust it: the final
publish is itself atomic-no-overwrite, and success is only reported
after verifying the destination bytes carry this writer's fencing token
(see ``_try_commit``). Staleness comparisons use the filesystem's own
clock (probe-file mtime), never the local host clock.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401 — re-exported for callers

_MANIFESTS = "_manifests"
_DATA = "data"


def _jvm_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _jpath(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


def _has_part_files(jvm, fs, path: str) -> bool:
    """True iff `path` contains at least one part file at ANY partition
    depth (Hadoop RemoteIterator, recursive). One RPC stream per staged
    commit — constant driver memory, works on object stores."""
    it = fs.listFiles(_jpath(jvm, path), True)
    while it.hasNext():
        if it.next().getPath().getName().startswith("part-"):
            return True
    return False


#: the last head read per manifests dir: its local path on a ``file``
#: table, else its qualified URI. Only a hint: every read checks it against
#: the files, so a stale value costs a few more probes or a listing, never
#: a wrong answer.
_HEAD_HINTS: dict[str, int] = {}

#: each table's head reader per session (_head_reader), so a head read
#: rebuilds no Path or FileSystem over the gateway: (jsc, reader). Keyed
#: by (id(jsc), table), as a JavaObject's hash is itself a gateway call;
#: the entry holds its jsc, so the id stays that object's and the
#: identity check holds.
_HEAD_READERS: dict[tuple[int, str], tuple] = {}


def _head_reader(spark: SparkSession, table: str):
    """A zero-argument head read of `table`, built from one Hadoop
    resolution (FileSystem, scheme, qualified path) and memoised."""
    jsc = spark._jsc
    entry = _HEAD_READERS.get((id(jsc), table))
    if entry is not None and entry[0] is jsc:
        return entry[1]
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs = Path(table).getFileSystem(jsc.hadoopConfiguration())
    qualified = fs.makeQualified(Path(table))
    if fs.getUri().getScheme() in (None, "file"):
        read = functools.partial(local_head_version, qualified.toUri().getPath())
    else:
        mdir = Path(qualified, _MANIFESTS)
        key = mdir.toString()

        def read() -> int:
            return _probe_head(
                key,
                lambda v: fs.exists(Path(mdir, f"v{v}.json")),
                lambda: [
                    int(st.getPath().getName()[1:-5])  # v{N}.json
                    for st in fs.globStatus(Path(mdir, "v*.json")) or []
                ],
            )

    _HEAD_READERS[(id(jsc), table)] = (jsc, read)
    return read


def _probe_head(key: str, exists, listing) -> int:
    """The hinted head probe over one manifests dir. Versions are dense:
    every commit publishes head + 1, and vacuum drops only manifests below
    the ones it keeps, head included. So from the last head seen, h, while
    v{h}.json still exists the head is the last of v{h+1}, v{h+2}, ...
    that exists (`exists(v)`). The listing (`listing()`: every
    v{N}.json's N) runs only without a usable hint: the first read, or
    v{h}.json vacuumed or the table recreated."""
    head = _HEAD_HINTS.get(key, 0)
    if head and exists(head):
        while exists(head + 1):
            head += 1
    else:
        head = max(listing(), default=0)
    _HEAD_HINTS[key] = head
    return head


def local_head_version(table: str) -> int:
    """head_version of a table on the local disk, `table` a plain path:
    the hinted probe with os.path.exists, else a glob of its manifests.
    No JVM: the manifest_feed source (which has no SparkSession) reads its
    heads here too."""
    mdir = os.path.join(table, _MANIFESTS)
    return _probe_head(
        mdir,
        lambda v: os.path.exists(f"{mdir}/v{v}.json"),
        lambda: [
            int(os.path.basename(p)[1:-5])  # v{N}.json
            for p in glob.glob(os.path.join(glob.escape(mdir), "v*.json"))
        ],
    )


def head_version(spark: SparkSession, table: str) -> int:
    """Highest committed manifest version (0 = empty table), by the hinted
    probe (_probe_head). The table resolves through Hadoop once per
    session (_head_reader). A ``file`` table is then probed with
    os.path.exists on its qualified local path (local_head_version; the
    driver JVM is a child of this process on the same host, so it sees the
    same files): no gateway call. Any other scheme probes with fs.exists
    through the cached handle, two gateway calls per version probed, and
    lists with one globStatus."""
    return _head_reader(spark, table)()


def _read_manifest(spark: SparkSession, table: str, version: int) -> dict:
    jvm, fs = _jvm_fs(spark, table)
    p = _jpath(jvm, f"{table}/{_MANIFESTS}/v{version}.json")
    stream = fs.open(p)
    try:
        data = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


#: a .claim older than this with no published manifest is a dead claimant
_CLAIM_GRACE_MS = 60_000


def _local_path(path: str) -> str:
    return path[5:] if path.startswith("file:") else path


def _fs_now_ms(jvm, fs, dir_s: str) -> float:
    """The filesystem's OWN notion of 'now': mtime of a freshly created
    probe file. Staleness checks (claim sweep, vacuum grace) compare this
    against mtimes written by OTHER hosts — using the local clock there
    breaks under cross-host clock skew on shared storage (an in-flight
    commit could look an hour old). One create+stat+delete per check."""
    probe = _jpath(jvm, f"{dir_s}/.now.{uuid.uuid4().hex}")
    out = fs.create(probe, True)
    out.close()
    try:
        return float(fs.getFileStatus(probe).getModificationTime())
    finally:
        fs.delete(probe, False)


def _atomic_claim(jvm, fs, path: str) -> bool:
    """Exclusively create `path`; True iff WE created it. On the local
    filesystem this must be java.io.File.createNewFile (O_CREAT|O_EXCL,
    atomic by Javadoc contract) — Hadoop's LocalFileSystem rename AND
    exclusive create are both check-then-act, and the race test caught
    two writers winning the same version through that TOCTOU under
    load. On HDFS, fs.create(overwrite=false) is atomic under the
    namenode lock, and object stores provide conditional-put."""
    if fs.getUri().getScheme() in (None, "file"):
        return bool(jvm.java.io.File(_local_path(path)).createNewFile())
    try:
        out = fs.create(jvm.org.apache.hadoop.fs.Path(path), False)
        out.close()
        return True
    except Exception:  # noqa: BLE001 — FileAlreadyExists == lost the claim
        return False


def _atomic_publish(jvm, fs, tmp_s: str, dst_s: str) -> bool:
    """Make the fully written `tmp_s` appear at `dst_s` atomically,
    failing (never overwriting) if the destination exists. On the local
    filesystem the primitive is link(2) via java.nio Files.createLink —
    EEXIST is checked IN THE KERNEL, unlike Hadoop local rename (a
    userspace check-then-rename that can silently overwrite a racing
    publisher's manifest). On HDFS, rename-without-overwrite is atomic
    under the namenode lock. The linked/renamed file is complete at
    publish time, so readers never observe a partial manifest."""
    if fs.getUri().getScheme() in (None, "file"):
        try:
            jvm.java.nio.file.Files.createLink(
                jvm.java.io.File(_local_path(dst_s)).toPath(),
                jvm.java.io.File(_local_path(tmp_s)).toPath(),
            )
            return True
        except Exception:  # noqa: BLE001 — FileAlreadyExists == lost
            return False
    return bool(fs.rename(_jpath(jvm, tmp_s), _jpath(jvm, dst_s)))


def _try_commit(spark: SparkSession, table: str, version: int, manifest: dict) -> bool:
    """Publish v{version}.json exactly once: atomic claim → write tmp →
    atomically link/rename onto the absent destination → VERIFY the
    destination carries this writer's fencing token. True iff this
    writer won. A crashed claimant is self-healing: losers delete a
    stale claim (old, with no published manifest) so the next attempt
    can take the version.

    The claim is a lease, and the stale-claim sweep makes leases
    revocable — so a claimant paused past the grace window (GC pause,
    slow staging FS) can wake to find another writer holding "its"
    version. Two defenses close that hole: the publish primitive itself
    is an atomic no-overwrite CAS (`_atomic_publish`), and the manifest
    embeds a per-attempt `writer` UUID that is re-read from the
    destination after publish — a writer only returns True when the
    bytes on disk are provably its own (the fencing-token check)."""
    jvm, fs = _jvm_fs(spark, table)
    fs.mkdirs(_jpath(jvm, f"{table}/{_MANIFESTS}"))
    dst_s = f"{table}/{_MANIFESTS}/v{version}.json"
    dst = _jpath(jvm, dst_s)
    if fs.exists(dst):
        return False
    claim_s = f"{table}/{_MANIFESTS}/v{version}.claim"
    claim = _jpath(jvm, claim_s)
    if not _atomic_claim(jvm, fs, claim_s):
        # lost the claim — or found a dead claimant's leftovers
        if fs.exists(dst):
            # claimant published but crashed before removing its claim:
            # the claim is permanent garbage, sweep it
            fs.delete(claim, False)
        else:
            try:
                stale = (
                    _fs_now_ms(jvm, fs, f"{table}/{_MANIFESTS}")
                    - fs.getFileStatus(claim).getModificationTime()
                    > _CLAIM_GRACE_MS
                )
            except Exception:  # noqa: BLE001 — winner released it mid-inspection
                stale = False
            if stale:
                fs.delete(claim, False)  # dead before publishing; free the slot
        return False
    try:
        if fs.exists(dst):  # stale-claim steal raced a late publisher
            return False
        manifest = dict(manifest)
        manifest["writer"] = uuid.uuid4().hex  # fencing token
        payload = json.dumps(manifest, sort_keys=True).encode("utf-8")
        tmp_s = f"{table}/{_MANIFESTS}/v{version}.json.tmp.{uuid.uuid4().hex}"
        tmp = _jpath(jvm, tmp_s)
        out = fs.create(tmp, False)
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        won = _atomic_publish(jvm, fs, tmp_s, dst_s)
        fs.delete(tmp, False)  # local publish is a link; drop the tmp name
        if not won:
            return False
        # fencing-token verification: the destination must be OUR bytes.
        # If a paused-lease steal let another writer publish this version
        # (or anything else went sideways), claim defeat and retry.
        stream = fs.open(dst)
        try:
            back = bytes(
                spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
        return back == payload
    finally:
        fs.delete(claim, False)


#: idempotency keys retained in the manifest (insertion-ordered). The
#: replay horizon of a checkpointed stream is ONE batch, so even a small
#: window is generous; keeping a window (not forever) bounds manifest size.
_KEY_WINDOW = 100


def _commit_stats(
    spark: SparkSession, table: str, commit_dir: str, stats_cols: tuple[str, ...]
) -> dict:
    """Per-commit [min, max] zone map for `stats_cols`, computed from the
    STAGED FILES (not the input DataFrame) so the stats are provably
    consistent with the bytes the manifest references. One agg job over
    the freshly written commit — at 100 TB this is the same pass Delta's
    writer piggybacks on file close."""
    staged = spark.read.parquet(f"{table}/{commit_dir}")
    aggs = []
    for c in stats_cols:
        aggs.extend([F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")])
    row = staged.agg(*aggs).collect()[0]

    def _j(v):  # JSON-safe: dates/timestamps as ISO strings (ordering-safe)
        return v if isinstance(v, (int, float, str, bool)) or v is None else str(v)

    return {c: [_j(row[f"min_{c}"]), _j(row[f"max_{c}"])] for c in stats_cols}


def commit_append(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    partition_by: tuple[str, ...] = (),
    max_retries: int = 20,
    idempotency_key: str | None = None,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Stage `df` as immutable files under a fresh commit dir, then CAS a
    manifest that ADDS the commit. Safe under concurrent writers in any
    number of threads or processes; returns the committed version.

    `idempotency_key` makes the commit EXACTLY-ONCE under replay (the
    foreachBatch contract: sink commit succeeded, stream checkpoint write
    crashed, batch re-runs): a key already present in the manifest's key
    window turns the call into a no-op returning the current head, and
    the freshly staged duplicate files are deleted. Keys ride in the
    manifest itself, so the dedup survives process restarts and works
    across racing writers — the CAS serializes key insertion."""
    if idempotency_key is not None:
        head = head_version(spark, table)
        if head and idempotency_key in (
            _read_manifest(spark, table, head).get("keys") or {}
        ):
            return head
    commit_dir = f"{_DATA}/{uuid.uuid4().hex}"
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(f"{table}/{commit_dir}")
    my_stats = (
        _commit_stats(spark, table, commit_dir, stats_cols) if stats_cols else None
    )
    for _ in range(max_retries):
        head = head_version(spark, table)
        prev = (
            _read_manifest(spark, table, head)
            if head
            else {"commits": [], "keys": {}}
        )
        keys = dict(prev.get("keys") or {})
        if idempotency_key is not None and idempotency_key in keys:
            # a racing replay won between our pre-check and this attempt
            jvm, fs = _jvm_fs(spark, table)
            fs.delete(_jpath(jvm, f"{table}/{commit_dir}"), True)
            return head
        if idempotency_key is not None:
            keys[idempotency_key] = commit_dir
            while len(keys) > _KEY_WINDOW:
                keys.pop(next(iter(keys)))
        stats = dict(prev.get("stats") or {})
        if my_stats is not None:
            stats[commit_dir] = my_stats
        manifest = {
            "version": head + 1,
            "parent": head,
            "commits": prev["commits"] + [commit_dir],
            "keys": keys,
            "stats": {c: s for c, s in stats.items() if c in prev["commits"] or c == commit_dir},
        }
        if _try_commit(spark, table, head + 1, manifest):
            return head + 1
    raise IOError(f"commit_append lost the CAS race {max_retries} times on {table}")


def commit_replace(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    drop_commits: list[str],
    partition_by: tuple[str, ...] = (),
    max_retries: int = 20,
    stats_cols: tuple[str, ...] = (),
    cdf_dir: str | None = None,
    row_preserving: bool = False,
    idempotency_key: str | None = None,
) -> int:
    """Publish `df` as the replacement for `drop_commits` (compaction /
    deletion rewrite). The dropped commits' FILES stay on disk for
    in-flight readers until vacuum; only the manifest changes. Fails the
    CAS (and retries against the new head) if another writer commits
    first — and aborts if a racing commit already dropped one of ours.
    `idempotency_key` gives a replace the same exactly-once-under-replay
    contract as commit_append: a key already in the manifest's window
    turns the call into a no-op returning the current head (the staged
    duplicate files are deleted)."""
    if idempotency_key is not None:
        head = head_version(spark, table)
        if head and idempotency_key in (
            _read_manifest(spark, table, head).get("keys") or {}
        ):
            return head
    commit_dir = f"{_DATA}/{uuid.uuid4().hex}"
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(f"{table}/{commit_dir}")
    # an EMPTY partitioned write stages no part files — an unreadable dir
    # that must never enter a manifest (a delete that empties the table is
    # a legitimate replace: drop the old commits, add nothing). Listing is
    # RECURSIVE — fixed-depth globs would misread a ≥3-column partitionBy
    # layout as empty and silently publish a drop-only manifest.
    jvm, fs = _jvm_fs(spark, table)
    has_rows = _has_part_files(jvm, fs, f"{table}/{commit_dir}")
    if not has_rows:
        fs.delete(_jpath(jvm, f"{table}/{commit_dir}"), True)
    my_stats = (
        _commit_stats(spark, table, commit_dir, stats_cols)
        if stats_cols and has_rows
        else None
    )
    for _ in range(max_retries):
        head = head_version(spark, table)
        prev = _read_manifest(spark, table, head) if head else {"commits": []}
        missing = [c for c in drop_commits if c not in prev["commits"]]
        if missing:
            raise IOError(
                f"commit_replace conflict: {missing} already replaced by a racing commit"
            )
        live = [c for c in prev["commits"] if c not in drop_commits] + (
            [commit_dir] if has_rows else []
        )
        stats = {
            c: s for c, s in (prev.get("stats") or {}).items() if c in live
        }
        if my_stats is not None:
            stats[commit_dir] = my_stats
        # idempotency keys survive replaces: a compaction racing the
        # stream's last uncheckpointed batch must not reopen the
        # replay-duplicate window
        keys = dict(prev.get("keys") or {})
        if idempotency_key is not None:
            if idempotency_key in keys:
                # a racing replay won between our pre-check and this attempt
                if has_rows:
                    fs.delete(_jpath(jvm, f"{table}/{commit_dir}"), True)
                return head
            keys[idempotency_key] = commit_dir
            while len(keys) > _KEY_WINDOW:
                keys.pop(next(iter(keys)))
        manifest = {
            "version": head + 1,
            "parent": head,
            "commits": live,
            "keys": keys,
            "stats": stats,
        }
        # change-data-feed metadata (Delta CDF parity): a rewrite either
        # carries its row-level change files (`cdf`) or declares itself
        # row-preserving (compaction / clustering); table_changes_cdf
        # raises on a rewrite that claims neither, because its row-level
        # delta is unknowable after the fact
        if cdf_dir is not None:
            manifest["cdf"] = cdf_dir
        if row_preserving:
            manifest["row_preserving"] = True
        if _try_commit(spark, table, head + 1, manifest):
            return head + 1
    raise IOError(f"commit_replace lost the CAS race {max_retries} times on {table}")


_CDF = "cdf"


def _stage_cdf(spark: SparkSession, table: str, cdf: DataFrame) -> str:
    """Stage a change-data file set under `cdf/<uuid>` and return the
    table-relative dir. Staged before the manifest CAS (same order as
    data commits); an orphan from a failed publish is swept by vacuum's
    unreferenced-dir rule."""
    d = f"{_CDF}/{uuid.uuid4().hex}"
    cdf.write.mode("errorifexists").parquet(f"{table}/{d}")
    return d


def table_changes_cdf(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> tuple[int, DataFrame | None]:
    """ROW-LEVEL change feed (Delta `table_changes` with CDF enabled):
    every row change strictly after `from_version` up to `to_version`
    (head by default), as the table schema plus `_change_type`
    ('insert' | 'update_preimage' | 'update_postimage' | 'delete') and
    `_commit_version`. Appends stream as inserts from their commit dirs
    (no extra storage); MERGE/DELETE rewrites stream from the change
    files they staged when called with `change_feed=True`; compactions
    and clustering rewrites declare `row_preserving` and contribute
    nothing. A rewrite that neither carries change files nor declares
    row preservation (a plain replace, a RESTORE, a merge/delete run
    without change_feed) raises — its row-level delta is unknowable
    after the fact, the same failure Delta gives a CDF read over a
    version written while the table property was off."""
    head = head_version(spark, table)
    to = head if to_version is None else to_version
    if to > head:
        raise IOError(f"to_version {to} beyond head {head} on {table}")
    if from_version >= to:
        return to, None
    try:
        prev = (
            _read_manifest(spark, table, from_version)["commits"]
            if from_version
            else []
        )
    except Exception as exc:  # noqa: BLE001 — vacuumed manifest
        raise IOError(
            f"CDF cursor v{from_version} is beyond the retention horizon "
            f"on {table} (vacuumed); re-bootstrap from a snapshot"
        ) from exc
    parts: list[DataFrame] = []
    for v in range(from_version + 1, to + 1):
        man = _read_manifest(spark, table, v)
        cur = man["commits"]
        dropped = [c for c in prev if c not in cur]
        rewrite = dropped or man.get("restored_from") is not None
        if rewrite:
            if man.get(_CDF) is not None:
                parts.append(
                    spark.read.parquet(f"{table}/{man[_CDF]}").withColumn(
                        "_commit_version", F.lit(v).cast("bigint")
                    )
                )
            elif not man.get("row_preserving"):
                raise IOError(
                    f"v{v} on {table} is a rewrite with no change files and no "
                    "row_preserving declaration; run the merge/delete with "
                    "change_feed=True to make it CDF-readable"
                )
        else:
            for c in cur:
                if c not in prev:
                    parts.append(
                        spark.read.option("basePath", f"{table}/{c}")
                        .parquet(f"{table}/{c}")
                        .withColumn("_change_type", F.lit("insert"))
                        .withColumn("_commit_version", F.lit(v).cast("bigint"))
                    )
        prev = cur
    if not parts:
        return to, None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return to, out


def _overlapping_commits(man: dict, col: str, lo, hi) -> list[str]:
    """Zone-map prune: the manifest's commits that may contain a `col`
    value in [lo, hi]. Conservative in every unknown direction — no
    recorded stats, any-null bounds, or a null query range all keep the
    commit. Shared by commit_delete and commit_merge hit detection."""
    stats = man.get("stats") or {}
    keep = []
    for c in man["commits"]:
        rng = (stats.get(c) or {}).get(col)
        if (
            lo is not None
            and rng is not None
            and None not in rng
            and (rng[0] > hi or rng[1] < lo)
        ):
            continue
        keep.append(c)
    return keep


def commit_merge(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    partition_by: tuple[str, ...] = (),
    stats_cols: tuple[str, ...] = (),
    max_restarts: int = 10,
    change_feed: bool = False,
    idempotency_key: str | None = None,
) -> int:
    """Delta-style MERGE (keyed upsert) with FILE PRUNING: rewrite ONLY
    the commit dirs that contain a matching key — untouched commits
    survive in the new manifest BY REFERENCE, not by rewrite. Matched
    keys take the update row (whole-row semantics); unmatched keys
    append. At 100 TB this pruning is the difference between an upsert
    that rewrites a few files and one that rewrites the table: a merge
    touching 0.1% of keys rewrites ~0.1% of commits.

    Hit detection is ONE job: every commit leg is scanned with a
    constant `_commit` column and LEFT SEMI-joined against the
    (broadcast, deduped) update keys, so Catalyst pushes the key
    projection into each parquet leg. Callers must dedupe `updates` on
    `key_cols` (enforced; last-writer-wins across CALLS is the CAS
    serialization, within a call it would be nondeterministic).
    Concurrency (Delta's conflict-resolution semantics): the rewrite goes
    through commit_replace's CAS. A racing APPEND just retries the CAS; a
    racing REPLACE of one of our hit commits (e.g. another merge that
    shared a file even on disjoint keys, or a compaction) RESTARTS the
    whole merge from the new head — hit detection re-runs against the
    racer's published commits, which still carry our keys' current rows —
    so concurrent merges on disjoint keys BOTH land (serialized versions,
    no caller-visible failure) and overlapping merges serialize with
    last-CAS-winner-wins, pinned by the 2-writer barrier races in
    tests/test_manifest.py.

    Zone-map hit pruning: when the manifest carries stats for the first
    key column, commits whose [min, max] is provably disjoint from the
    updates' key range are excluded from hit detection BEFORE any parquet
    leg is scanned — at 100 TB the hit-detection job reads only the
    commits a key-clustered layout makes plausible. Pass `stats_cols` so
    the merged replacement commit re-publishes stats and stays prunable.

    Change-feed interaction (same contract as Delta): a merge that hits
    existing keys publishes a replace-commit, so `table_changes`/
    `manifest_feed` skip it under ignore_replaces — including any
    brand-new keys that rode in the same call (an all-new-keys merge
    degrades to a plain append and streams normally). A
    pipeline that must stream rows added via merge needs a change-data-
    feed column strategy (or append-only writes); a feed that must only
    never double-count is already correct."""
    key_cols = tuple(key_cols)
    if not key_cols:
        raise ValueError("commit_merge needs at least one key column")
    if updates.groupBy(*key_cols).count().filter(F.col("count") > 1).limit(1).count():
        raise ValueError(f"updates are not unique on {key_cols}")
    kc = key_cols[0]
    kb = updates.agg(F.min(kc).alias("lo"), F.max(kc).alias("hi")).first()
    last_exc: IOError | None = None
    for _ in range(max_restarts):
        head = head_version(spark, table)
        if (
            idempotency_key is not None
            and head
            and idempotency_key
            in (_read_manifest(spark, table, head).get("keys") or {})
        ):
            return head  # replayed merge window: exactly-once no-op
        if head == 0:
            return commit_append(
                spark, table, updates, partition_by=partition_by,
                stats_cols=stats_cols, idempotency_key=idempotency_key,
            )
        man = _read_manifest(spark, table, head)
        candidates = _overlapping_commits(man, kc, kb.lo, kb.hi)
        keys = updates.select(*key_cols).distinct()
        hits: list[str] = []
        if candidates:
            legs = [
                spark.read.option("basePath", f"{table}/{c}")
                .parquet(f"{table}/{c}")
                .select(*key_cols)
                .withColumn("_commit", F.lit(c))
                for c in candidates
            ]
            all_keys = legs[0]
            for leg in legs[1:]:
                all_keys = all_keys.unionByName(leg)
            hits = sorted(
                r._commit
                for r in all_keys.join(F.broadcast(keys), list(key_cols), "left_semi")
                .select("_commit")
                .distinct()
                .collect()
            )
        if not hits:
            return commit_append(
                spark, table, updates, partition_by=partition_by,
                stats_cols=stats_cols, idempotency_key=idempotency_key,
            )
        survivors = None
        for c in hits:
            leg = spark.read.option("basePath", f"{table}/{c}").parquet(f"{table}/{c}")
            survivors = leg if survivors is None else survivors.unionByName(
                leg, allowMissingColumns=True
            )
        merged = survivors.join(
            F.broadcast(keys), list(key_cols), "left_anti"
        ).unionByName(updates, allowMissingColumns=True)
        cdf_dir = None
        if change_feed:
            # Delta CDF rows for a whole-row MERGE: matched keys emit the
            # old row (update_preimage) and the update row
            # (update_postimage); brand-new keys emit insert. Staged per
            # attempt — a restart re-derives against the new head, and an
            # orphaned stage from a lost CAS is vacuum-swept.
            matched_old = survivors.join(
                F.broadcast(keys), list(key_cols), "left_semi"
            ).withColumn("_change_type", F.lit("update_preimage"))
            survivor_keys = survivors.select(*key_cols).distinct()
            matched_new = updates.join(
                F.broadcast(survivor_keys), list(key_cols), "left_semi"
            ).withColumn("_change_type", F.lit("update_postimage"))
            inserts = updates.join(
                F.broadcast(survivor_keys), list(key_cols), "left_anti"
            ).withColumn("_change_type", F.lit("insert"))
            cdf_dir = _stage_cdf(
                spark,
                table,
                matched_old.unionByName(
                    matched_new, allowMissingColumns=True
                ).unionByName(inserts, allowMissingColumns=True),
            )
        try:
            return commit_replace(
                spark, table, merged, drop_commits=hits,
                partition_by=partition_by, stats_cols=stats_cols,
                cdf_dir=cdf_dir, idempotency_key=idempotency_key,
            )
        except IOError as exc:
            if "conflict" not in str(exc):
                raise
            last_exc = exc  # racing replace took a hit commit: restart from new head
    raise IOError(
        f"commit_merge restarted {max_restarts} times on {table} without landing"
    ) from last_exc


def snapshot(
    spark: SparkSession, table: str, version: int | None = None
) -> tuple[int, DataFrame | None]:
    """(version, DataFrame) of a committed snapshot — the head by
    default, or time travel to any retained `version`. Reading a
    manifest's exact commit list is immune to concurrent commits,
    partial appends, and rename windows; None for an empty table.

    Schema evolution (Delta's mergeSchema semantics): commits may add
    columns over time; the union is by NAME with missing columns
    null-filled, so old snapshots' files read cleanly under the widened
    schema. Dropping or retyping a column requires a replace-commit
    that rewrites the data — same rule as Delta/Iceberg v1."""
    v = head_version(spark, table) if version is None else version
    if v == 0:
        return 0, None
    man = _read_manifest(spark, table, v)
    if not man["commits"]:
        return v, None
    parts = [
        spark.read.option("basePath", f"{table}/{c}").parquet(f"{table}/{c}")
        for c in man["commits"]
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return v, out


def snapshot_pruned(
    spark: SparkSession,
    table: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[int, DataFrame | None, int]:
    """Data-skipping read (Delta zone-map semantics): return only the
    commit legs whose [min, max] stats for `col` OVERLAP [lo, hi], with
    the range filter applied on top (stats prune FILES, the filter prunes
    ROWS — both are needed, pruning alone is not a predicate). Commits
    with no recorded stats for `col` are never pruned (safe: unknown ≠
    disjoint). Returns (version, DataFrame|None, commits_skipped).

    At 100 TB this is the read-side payoff of `stats_cols`: a time-range
    or id-range query over an append-mostly table opens only the commits
    whose zone maps overlap, before parquet footers are even listed —
    the same manifest-level skipping Delta/Iceberg do ahead of row-group
    skipping inside each file."""
    v = head_version(spark, table) if version is None else version
    if v == 0:
        return 0, None, 0
    man = _read_manifest(spark, table, v)
    stats = man.get("stats") or {}
    keep, skipped = [], 0
    for c in man["commits"]:
        rng = (stats.get(c) or {}).get(col)
        # all-null stat bounds read as unknown, never disjoint
        if rng is not None and None not in rng and (rng[0] > hi or rng[1] < lo):
            skipped += 1
            continue
        keep.append(c)
    if not keep:
        return v, None, skipped
    parts = [
        spark.read.option("basePath", f"{table}/{c}").parquet(f"{table}/{c}")
        for c in keep
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return v, out.filter((F.col(col) >= lo) & (F.col(col) <= hi)), skipped


def table_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
    ignore_replaces: bool = False,
) -> tuple[int, DataFrame | None]:
    """Change feed (Delta's table_changes / streaming-source semantics):
    the rows APPENDED strictly after `from_version`, up to and including
    `to_version` (head by default). Returns (to_version, DataFrame|None);
    feed the returned version back as the next call's `from_version` for
    exactly-once incremental consumption — the cursor is just an int, so
    callers can persist it wherever their checkpoint lives.

    Commit type is INFERRED from the manifest diff (no format change): a
    version whose commit list only adds dirs is an append; one that drops
    a parent dir is a replace (compaction / erasure rewrite). Replaced
    data is not new rows — consuming it would double-count — so a replace
    inside the window raises unless `ignore_replaces=True` (Delta's
    ignoreChanges), which skips it and keeps consuming appends. Raises if
    `from_version`'s manifest was vacuumed away (retention horizon), like
    a Delta stream falling behind VACUUM."""
    head = head_version(spark, table)
    to = head if to_version is None else to_version
    if to > head:
        raise IOError(f"to_version {to} beyond head {head} on {table}")
    if from_version >= to:
        return to, None
    try:
        prev = (
            _read_manifest(spark, table, from_version)["commits"]
            if from_version
            else []
        )
    except Exception as exc:  # noqa: BLE001 — vacuumed manifest
        raise IOError(
            f"change-feed cursor v{from_version} is beyond the retention "
            f"horizon on {table} (vacuumed); re-bootstrap from a snapshot"
        ) from exc
    added_dirs: list[str] = []
    for v in range(from_version + 1, to + 1):
        man = _read_manifest(spark, table, v)
        cur = man["commits"]
        dropped = [c for c in prev if c not in cur]
        # a RESTORE is a rewrite even when its diff only re-adds dirs
        # (restore forward re-references undone commits — streaming them
        # would double-count rows a consumer already saw pre-restore)
        rewrite = dropped or man.get("restored_from") is not None
        if rewrite:
            if not ignore_replaces:
                raise IOError(
                    f"v{v} on {table} is a replace-commit (drops {dropped}, "
                    f"restored_from {man.get('restored_from')}); pass "
                    "ignore_replaces=True to skip rewrites in the feed"
                )
        else:
            added_dirs.extend(c for c in cur if c not in prev)
        prev = cur
    if not added_dirs:
        return to, None
    parts = [
        spark.read.option("basePath", f"{table}/{c}").parquet(f"{table}/{c}")
        for c in added_dirs
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return to, out


def commit_delete(
    spark: SparkSession,
    table: str,
    col: str,
    lo,
    hi,
    stats_cols: tuple[str, ...] = (),
    partition_by: tuple[str, ...] = (),
    change_feed: bool = False,
) -> tuple[int, int]:
    """Row-level DELETE with FILE PRUNING (Delta `DELETE WHERE col
    BETWEEN lo AND hi` parity): commits whose [min, max] zone map for
    `col` is DISJOINT from [lo, hi] survive in the new manifest BY
    REFERENCE; only overlapping (or stats-less — unknown is never
    disjoint) commits rewrite, each keeping its rows outside the range.
    A rewritten commit left empty is dropped outright. At 100 TB a
    retention delete over a date-clustered table rewrites only the
    commits whose zone maps straddle the cutoff.

    Returns (version, commits_rewritten). The rewrite rides
    commit_replace's CAS (racing appends survive; a racing replace of a
    hit commit aborts loudly); the feed sees one replace version."""
    head = head_version(spark, table)
    if head == 0:
        return 0, 0
    man = _read_manifest(spark, table, head)
    # provably disjoint commits survive by reference
    hits = _overlapping_commits(man, col, lo, hi)
    if not hits:
        return head, 0
    parts = [
        spark.read.option("basePath", f"{table}/{c}").parquet(f"{table}/{c}")
        for c in hits
    ]
    survivors = parts[0]
    for p in parts[1:]:
        survivors = survivors.unionByName(p, allowMissingColumns=True)
    # keep rows where the predicate is FALSE **or NULL** (Delta DELETE
    # WHERE semantics: a NULL `col` never matches `BETWEEN lo AND hi`, so
    # the row survives; `NOT (col >= lo AND col <= hi)` alone evaluates
    # to NULL for NULL col and would silently drop those rows)
    kept = survivors.filter(
        (F.col(col) < lo) | (F.col(col) > hi) | F.col(col).isNull()
    )
    cdf_dir = None
    if change_feed:
        # the deleted rows, exactly: predicate TRUE (NULL col never matches)
        deleted = survivors.filter(
            (F.col(col) >= lo) & (F.col(col) <= hi)
        ).withColumn("_change_type", F.lit("delete"))
        cdf_dir = _stage_cdf(spark, table, deleted)
    return (
        commit_replace(
            spark,
            table,
            kept,
            drop_commits=hits,
            partition_by=partition_by,
            stats_cols=stats_cols,
            cdf_dir=cdf_dir,
        ),
        len(hits),
    )


def optimize_clustered(
    spark: SparkSession,
    table: str,
    col: str,
    n_buckets: int = 8,
    stats_cols: tuple[str, ...] | None = None,
    max_retries: int = 20,
) -> int:
    """OPTIMIZE with range clustering (Delta `OPTIMIZE ... ZORDER BY
    (col)` in its 1-D essence): rewrite the live commits as `n_buckets`
    commits each covering a DISJOINT `col` range, published atomically
    as ONE replace version. Zone maps are per-commit here, so a plain
    compaction (one dir) gives the stats nothing to prune with — the
    clustered rewrite is what makes `snapshot_pruned` skip all but the
    overlapping buckets on later range reads (the pinned payoff in
    tests/test_manifest.py). Bucket boundaries come from approxQuantile
    on `col` (driver-side list of n_buckets-1 doubles — constant size).

    Multi-dimensional clustering plugs in by passing a precomputed
    Z-value column (the Morton machinery in plans/curation.zorder_layout)
    as `col`; the commit protocol is the same."""
    head = head_version(spark, table)
    if head == 0:
        return 0
    commits = _read_manifest(spark, table, head)["commits"]
    _, df = snapshot(spark, table, version=head)
    if df is None:
        return head
    qs = df.approxQuantile(
        # ansi: driver-side Python floats, n_buckets >= 1 by signature
        col, [i / n_buckets for i in range(1, n_buckets)], 0.01
    )
    bounds = sorted(set(qs))
    legs = []
    prev_b = None
    for i, b in enumerate(bounds + [None]):
        cond = None
        if prev_b is not None:
            cond = F.col(col) > F.lit(prev_b)
        if b is not None:
            upper = F.col(col) <= F.lit(b)
            cond = upper if cond is None else (cond & upper)
        if cond is not None and prev_b is None:
            # rows whose clustering key is NULL satisfy NO range predicate
            # (every comparison is NULL) — route them into the first bucket
            # so OPTIMIZE stays row-preserving; zone-map stats for that
            # bucket simply have null bounds, which prune conservatively
            cond = cond | F.col(col).isNull()
        legs.append(df if cond is None else df.filter(cond))
        prev_b = b
    stats_cols = (col,) if stats_cols is None else tuple(stats_cols)
    return _publish_optimize_legs(
        spark, table, df, commits, legs, stats_cols, max_retries,
        op="optimize_clustered",
    )


def _publish_optimize_legs(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    commits: list[str],
    legs: list[DataFrame],
    stats_cols: tuple[str, ...],
    max_retries: int,
    op: str,
) -> int:
    """Shared OPTIMIZE publish: stage every leg, drop empties, record
    per-leg stats, ASSERT row preservation before the CAS, then replace
    the original commit list with the staged legs in one version."""
    staged: list[str] = []
    jvm, fs = _jvm_fs(spark, table)
    my_stats: dict[str, dict] = {}
    staged_rows = 0
    for leg in legs:
        commit_dir = f"{_DATA}/{uuid.uuid4().hex}"
        leg.write.mode("errorifexists").parquet(f"{table}/{commit_dir}")
        # an empty bucket (skewed quantiles) stages an empty dir; keep it
        # out of the manifest and reclaim it now
        leg_rows = spark.read.parquet(f"{table}/{commit_dir}").count()
        if leg_rows == 0:
            fs.delete(_jpath(jvm, f"{table}/{commit_dir}"), True)
            continue
        staged_rows += leg_rows
        staged.append(commit_dir)
        if stats_cols:
            my_stats[commit_dir] = _commit_stats(spark, table, commit_dir, stats_cols)
    # OPTIMIZE is a pure re-layout: assert row preservation BEFORE the CAS
    # so a bucketing bug can never publish silent data loss
    expected_rows = df.count()
    if staged_rows != expected_rows:
        for c in staged:
            fs.delete(_jpath(jvm, f"{table}/{c}"), True)
        raise IOError(
            f"{op} would lose rows on {table}: staged "
            f"{staged_rows} != live {expected_rows}; aborted before publish"
        )
    for _ in range(max_retries):
        head = head_version(spark, table)
        prev = _read_manifest(spark, table, head)
        missing = [c for c in commits if c not in prev["commits"]]
        if missing:
            raise IOError(
                f"{op} conflict: {missing} already replaced by a racing commit"
            )
        live = [c for c in prev["commits"] if c not in commits] + staged
        stats = {c: s for c, s in (prev.get("stats") or {}).items() if c in live}
        stats.update(my_stats)
        manifest = {
            "version": head + 1,
            "parent": head,
            "commits": live,
            "keys": prev.get("keys") or {},
            "stats": stats,
            # OPTIMIZE re-layouts change no rows: CDF-transparent
            "row_preserving": True,
        }
        if _try_commit(spark, table, head + 1, manifest):
            return head + 1
    raise IOError(f"{op} lost the CAS race {max_retries} times on {table}")


def optimize_zorder(
    spark: SparkSession,
    table: str,
    cols: tuple[str, str],
    n_buckets: int = 8,
    bits: int = 4,
    stats_cols: tuple[str, ...] | None = None,
    max_retries: int = 20,
) -> int:
    """OPTIMIZE with 2-D Z-ORDER clustering (Delta `OPTIMIZE ... ZORDER BY
    (a, b)`): bucket each dimension into a 2^bits grid over its live
    [min, max], interleave the bucket bits into a Morton value (same
    floor-div/mod arithmetic as plans/curation.zorder_layout — no bit
    ops), and rewrite the live commits as `n_buckets` Morton-range legs
    in ONE replace version. Because Morton ranges are unions of grid
    RECTANGLES, every leg is narrow in BOTH dimensions — so per-commit
    zone maps prune range reads on EITHER column, which 1-D clustering
    can only give its own key (the pinned payoff in tests/test_manifest).

    NULL handling: a NULL in either dimension maps to grid cell 0 for
    that axis (rows keep their place, stats stay conservative), and the
    shared publish core asserts row preservation before the CAS."""
    c1, c2 = cols
    head = head_version(spark, table)
    if head == 0:
        return 0
    commits = _read_manifest(spark, table, head)["commits"]
    _, df = snapshot(spark, table, version=head)
    if df is None:
        return head
    rng = df.agg(
        F.min(c1).alias("mn1"), F.max(c1).alias("mx1"),
        F.min(c2).alias("mn2"), F.max(c2).alias("mx2"),
    ).first()
    if rng.mn1 is None or rng.mn2 is None:
        # a dimension that is entirely NULL gives Z-order nothing to
        # interleave; fall back to 1-D clustering on the other column
        live_col = c1 if rng.mn1 is not None else c2
        if rng.mn1 is None and rng.mn2 is None:
            return head
        return optimize_clustered(
            spark, table, live_col, n_buckets=n_buckets,
            stats_cols=stats_cols, max_retries=max_retries,
        )
    grid = 1 << bits

    def bucket(col: str, mn, mx):
        span = float(mx) - float(mn)
        if span <= 0:
            return F.lit(0)
        # NULL dimension value → cell 0. The coalesce must wrap the
        # floor() term INSIDE least(): Spark's least() skips NULL
        # arguments, so least(grid-1, NULL) would be grid-1 and NULLs
        # would silently land in the LAST cell instead.
        return F.least(
            F.lit(grid - 1),
            F.coalesce(
                F.floor((F.col(col).cast("double") - F.lit(float(mn)))
                        # ansi: span > 0 by the enclosing branch, +1e-12 literal
                        * grid / F.lit(span + 1e-12)).cast("int"),
                F.lit(0),
            ),
        )

    cb, db = bucket(c1, rng.mn1, rng.mx1), bucket(c2, rng.mn2, rng.mx2)
    zval = None
    for i in range(bits):
        # ansi: divisor is a nonzero Python literal (1 << i)
        t1 = ((cb / (1 << i)).cast("int") % 2) * (4 ** i)
        t2 = ((db / (1 << i)).cast("int") % 2) * (2 * 4 ** i)  # ansi: literal divisor
        zval = t1 + t2 if zval is None else zval + t1 + t2
    zdf = df.withColumn("_zval", zval)
    # ansi: driver-side Python floats, n_buckets >= 1 by signature
    qs = zdf.approxQuantile("_zval", [i / n_buckets for i in range(1, n_buckets)], 0.01)
    bounds = sorted(set(qs))
    legs = []
    prev_b = None
    for b in bounds + [None]:
        cond = None
        if prev_b is not None:
            cond = F.col("_zval") > F.lit(prev_b)
        if b is not None:
            upper = F.col("_zval") <= F.lit(b)
            cond = upper if cond is None else (cond & upper)
        leg = zdf if cond is None else zdf.filter(cond)
        legs.append(leg.drop("_zval"))
        prev_b = b
    stats_cols = tuple(cols) if stats_cols is None else tuple(stats_cols)
    return _publish_optimize_legs(
        spark, table, df, commits, legs, stats_cols, max_retries,
        op="optimize_zorder",
    )


def restore_table(
    spark: SparkSession, table: str, version: int, max_retries: int = 20
) -> int:
    """RESTORE (Delta `RESTORE TABLE ... TO VERSION AS OF` parity): make
    the table's LIVE state equal `version`'s state again by publishing a
    NEW head whose commit list is the target's — history only ever rolls
    forward, so time travel to the undone versions keeps working and
    concurrent readers never see a vanish window. No data files move;
    the restore is one manifest CAS.

    Semantics pinned by tests/test_manifest.py:
      * restoring to the current head is a no-op (returns head, no new
        version) — re-runnable;
      * a restore that drops newer commits is a REPLACE for the change
        feed (table_changes / manifest_feed skip it under
        ignore_replaces, fail loudly otherwise) — consuming undone rows
        again would double-count, same rule as compaction;
      * fails loudly if any target commit dir was vacuumed away
        (retention horizon — like Delta RESTORE past VACUUM);
      * the idempotency-key window is carried from the CURRENT head, not
        the target: restore undoes DATA, not the exactly-once ledger, so
        a replayed sink batch stays a no-op instead of resurrecting the
        rows the restore just removed.
    """
    head = head_version(spark, table)
    if version < 1 or version > head:
        raise ValueError(f"restore target v{version} outside 1..{head} on {table}")
    try:
        target = _read_manifest(spark, table, version)
    except Exception as exc:  # noqa: BLE001 — vacuumed manifest
        raise IOError(
            f"cannot restore {table} to v{version}: its manifest is beyond "
            "the retention horizon (vacuumed)"
        ) from exc
    jvm, fs = _jvm_fs(spark, table)
    missing = [
        c
        for c in target["commits"]
        if not fs.exists(_jpath(jvm, f"{table}/{c}"))
    ]
    if missing:
        raise IOError(
            f"cannot restore {table} to v{version}: commit dirs {missing} "
            "were vacuumed (retention horizon)"
        )
    for _ in range(max_retries):
        head = head_version(spark, table)
        if head == version:
            return head
        prev = _read_manifest(spark, table, head)
        # target stats win for target commits; prev contributes entries
        # carried forward for commits that are live in both
        stats = {**(prev.get("stats") or {}), **(target.get("stats") or {})}
        manifest = {
            "version": head + 1,
            "parent": head,
            "commits": list(target["commits"]),
            "keys": prev.get("keys") or {},
            "stats": {c: s for c, s in stats.items() if c in target["commits"]},
            "restored_from": version,
        }
        if _try_commit(spark, table, head + 1, manifest):
            return head + 1
    raise IOError(f"restore_table lost the CAS race {max_retries} times on {table}")


def maybe_compact(
    spark: SparkSession,
    table: str,
    max_live_commits: int = 16,
    partition_by: tuple[str, ...] = (),
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Small-file maintenance trigger (Delta's OPTIMIZE policy): when the
    head manifest references more than `max_live_commits` commit dirs —
    the steady state of a micro-batch sink left alone — rewrite them all
    as ONE commit via a replace. No-op (returns the head) below the
    threshold, so it is safe to call after every sink pass; readers keep
    their snapshots, the change feed skips the rewrite, and a racing
    append survives (its commit is not in drop_commits)."""
    head = head_version(spark, table)
    if head == 0:
        return 0
    commits = _read_manifest(spark, table, head)["commits"]
    if len(commits) <= max_live_commits:
        return head
    _, df = snapshot(spark, table, version=head)
    return commit_replace(
        spark,
        table,
        df,
        drop_commits=commits,
        partition_by=partition_by,
        stats_cols=stats_cols,
        row_preserving=True,  # compaction changes no rows: CDF-transparent
    )


def vacuum(
    spark: SparkSession,
    table: str,
    keep_versions: int = 2,
    min_age_s: float = 600.0,
    dry_run: bool = False,
) -> int:
    """Delete commit dirs unreferenced by the newest `keep_versions`
    manifests, then drop older manifests. Readers of retained snapshots
    are unaffected; returns the number of commit dirs removed.

    `dry_run=True` (Delta `VACUUM ... DRY RUN` parity) counts the commit
    dirs that WOULD be reclaimed under the same age/reference rules and
    deletes nothing — manifests, tmps, and claims included.

    `min_age_s` is load-bearing, not politeness: a concurrent writer's
    commit dir is staged BEFORE its manifest CAS, so an unreferenced dir
    younger than the grace window may be an in-flight commit — deleting
    it would fail the racing writer (or worse, publish a manifest whose
    files are gone). Only dirs older than the window can be abandoned
    stages or replaced commits. The same retention-vs-in-flight rule as
    Delta's VACUUM. Two operational requirements follow: `min_age_s`
    MUST exceed the longest plausible staging write (a 10-minute default
    is for tests; size it to your slowest commit), and 'now' is derived
    from the FILESYSTEM (probe-file mtime, `_fs_now_ms`) rather than the
    local clock, so cross-host clock skew on shared storage cannot make
    an in-flight stage look older than it is."""
    head = head_version(spark, table)
    if head == 0:
        return 0
    keep = set()
    keep_cdf = set()
    floor_v = max(1, head - keep_versions + 1)
    for v in range(floor_v, head + 1):
        man = _read_manifest(spark, table, v)
        keep.update(man["commits"])
        if man.get(_CDF) is not None:
            keep_cdf.add(man[_CDF])
    jvm, fs = _jvm_fs(spark, table)
    removed = 0
    now_ms = _fs_now_ms(jvm, fs, f"{table}/{_MANIFESTS}")
    for st in fs.globStatus(_jpath(jvm, f"{table}/{_DATA}/*")) or []:
        rel = f"{_DATA}/{st.getPath().getName()}"
        if rel not in keep and now_ms - st.getModificationTime() >= min_age_s * 1000.0:
            if not dry_run:
                fs.delete(st.getPath(), True)
            removed += 1
    # change files age out with their manifests (same grace window —
    # an in-flight merge stages its cdf dir before the CAS)
    for st in fs.globStatus(_jpath(jvm, f"{table}/{_CDF}/*")) or []:
        rel = f"{_CDF}/{st.getPath().getName()}"
        if rel not in keep_cdf and now_ms - st.getModificationTime() >= min_age_s * 1000.0:
            if not dry_run:
                fs.delete(st.getPath(), True)
            removed += 1
    if dry_run:
        return removed
    for st in fs.globStatus(_jpath(jvm, f"{table}/{_MANIFESTS}/v*.json")) or []:
        name = st.getPath().getName()
        if int(name[1:-5]) < floor_v:
            fs.delete(st.getPath(), False)
    # crash residue: a writer that died mid-publish leaves a staged tmp
    # (swept once demonstrably old — a LIVE writer's tmp is younger than
    # the grace window) and possibly a claim for an already-published
    # version (permanent garbage the moment v{N}.json exists, any age)
    for st in fs.globStatus(_jpath(jvm, f"{table}/{_MANIFESTS}/v*.json.tmp.*")) or []:
        if now_ms - st.getModificationTime() >= min_age_s * 1000.0:
            fs.delete(st.getPath(), False)
    for st in fs.globStatus(_jpath(jvm, f"{table}/{_MANIFESTS}/v*.claim")) or []:
        v = int(st.getPath().getName()[1:-6])
        if v <= head:
            fs.delete(st.getPath(), False)
    return removed
