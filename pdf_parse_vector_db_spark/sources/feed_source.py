"""Structured Streaming source over the manifest change feed (X50).

``spark.readStream.format("manifest_feed").option("table", path)`` turns
the manifest-committed table (sources/manifest.py) into a first-class
streaming source via Spark 4's Python DataSource API — the engine-native
analog of reading a Delta table as a stream:

  * OFFSETS are manifest versions (the same int cursor
    ``manifest.table_changes`` uses), so Spark's offset log gives
    exactly-once delivery across restarts for free;
  * ``partitions(start, end)`` diffs the manifests in the window on the
    driver (tiny JSON reads) and emits one InputPartition PER ADDED
    COMMIT DIR — the actual column data is read on EXECUTORS with
    pyarrow (hive-partitioned dataset scan, yielded as Arrow
    RecordBatches, zero row-at-a-time Python);
  * replace-commits (compaction/erasure rewrites) are NOT new rows:
    skipped under ``ignoreReplaces`` (default true, Delta's
    ignoreChanges), else the batch fails loudly.

Scale notes: the driver never touches data bytes — it reads two JSON
manifests per trigger and LISTS the added commits' parquet files;
partition granularity is one FILE (hive partition values recovered
against the commit root), so even a compacted commit holding the whole
table scans in parallel across executors. This module reads ``file:``
tables with the standard library + pyarrow — object stores plug in
through ``pyarrow.fs.FileSystem.from_uri`` with no protocol change (the
manifest layer never renames).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from pdf_parse_vector_db_spark.sources.manifest import local_head_version

_MANIFESTS = "_manifests"


def _local(path: str) -> str:
    return path[5:] if path.startswith("file:") else path


def _read_manifest(table: str, version: int) -> dict:
    with open(os.path.join(_local(table), _MANIFESTS, f"v{version}.json"), "rb") as f:
        return json.loads(f.read().decode("utf-8"))


class _CommitSlice(InputPartition):
    """One scan task: a subset of a commit dir's parquet files (hive
    partition values recovered against the commit root). Splitting at
    file granularity, not commit granularity, is what keeps a COMPACTED
    commit (one dir holding the whole table) parallel across executors.

    CDF mode carries two extra literals: `version` fills the
    `_commit_version` column, and `change_type` fills `_change_type`
    when the files themselves don't carry one (append commits — staged
    change files already store their own per-row types)."""

    def __init__(
        self,
        commit_root: str,
        files: list[str],
        version: int | None = None,
        change_type: str | None = None,
    ):
        self.commit_root = commit_root
        self.files = files
        self.version = version
        self.change_type = change_type


def _commit_slices(
    commit_root: str, version: int | None = None, change_type: str | None = None
) -> list[_CommitSlice]:
    """One slice per parquet file of a commit dir (driver-side listing)."""
    files = sorted(
        os.path.join(dirpath, f)
        for dirpath, _, names in os.walk(commit_root)
        for f in names
        if f.endswith(".parquet")
    )
    return [_CommitSlice(commit_root, [f], version, change_type) for f in files]


def _scan_commit(partition: _CommitSlice, spark_schema):
    """Executor-side scan of one slice (parquet files + their commit root
    for hive partition recovery): batches normalized COLUMN BY COLUMN to
    the exact arrow schema the Spark schema maps to. Two normalizations
    are load-bearing: Spark writes INT96 timestamps, which pyarrow
    surfaces as timestamp[ns] and Spark's arrow ingest rejects (caught by
    the event-time window composition test); and under schema evolution
    an OLD commit lacks columns later commits added — those are
    null-filled here, mirroring snapshot()'s union-by-name semantics."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(spark_schema)
    dataset = pads.dataset(
        partition.files,
        partitioning="hive",
        partition_base_dir=partition.commit_root,
    )
    avail = set(dataset.schema.names)
    scanner = dataset.scanner(
        columns=[f.name for f in spark_schema.fields if f.name in avail]
    )
    version = getattr(partition, "version", None)
    change_type = getattr(partition, "change_type", None)
    for batch in scanner.to_batches():
        arrays = []
        for f in target:
            if f.name == "_commit_version" and version is not None:
                arrays.append(pa.array([version] * batch.num_rows, f.type))
            elif f.name == "_change_type" and f.name not in avail and change_type:
                arrays.append(pa.array([change_type] * batch.num_rows, f.type))
            elif f.name in avail:
                arrays.append(batch.column(f.name).cast(f.type))
            else:
                arrays.append(pa.nulls(batch.num_rows, f.type))
        yield pa.RecordBatch.from_arrays(arrays, schema=target)


class ManifestFeedStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        self.table = options["table"]
        self.start_version = int(options.get("startingversion", 0))
        self.ignore_replaces = (
            str(options.get("ignorereplaces", "true")).lower() == "true"
        )
        #: Delta readChangeFeed parity: emit _change_type/_commit_version,
        #: stream rewrites from their staged change files, skip declared
        #: row-preserving rewrites, and FAIL on undeclared ones (their
        #: row-level delta is unknowable) — ignoreReplaces does not apply
        self.read_change_feed = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        #: admission control (Delta's maxFilesPerTrigger analog, in commit
        #: dirs): a backlogged stream — bootstrap of a 100 TB table, or a
        #: consumer resuming after downtime — drains in bounded micro-
        #: batches instead of one giant catch-up batch. 0/absent = uncapped.
        self.max_commits = int(options.get("maxcommitsperbatch", 0)) or None
        #: last version this reader knows was handed to Spark. Lifecycle
        #: (measured on Spark 4.1): a FRESH query calls latestOffset before
        #: initialOffset, so the cursor anchors lazily at startingVersion —
        #: correct there by definition; on a RESTART Spark re-plans the
        #: checkpointed window via partitions() before asking for a new
        #: latestOffset, which primes the cursor with the true committed
        #: position (pinned by the admission tests in test_feed_source.py)
        self._cursor: int | None = None
        self.schema = schema

    def initialOffset(self) -> dict:
        self._cursor = self.start_version
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        head = local_head_version(_local(self.table))
        if self.max_commits is None:
            return {"version": head}
        if self._cursor is None:
            self._cursor = self.start_version
        v = base = self._cursor
        budget = self.max_commits
        prev = set(_read_manifest(self.table, v)["commits"]) if v else set()
        while v < head:
            man = _read_manifest(self.table, v + 1)
            cur = man["commits"]
            dropped = [c for c in prev if c not in cur]
            rewrite = bool(dropped) or man.get("restored_from") is not None
            n_added = 0 if rewrite else sum(1 for c in cur if c not in prev)
            if n_added > budget and v > base:
                break  # next version alone overflows — close the batch
            budget -= n_added  # a version is never split across batches
            v += 1
            prev = set(cur)
            if budget <= 0:
                break
        return {"version": v}

    def partitions(self, start: dict, end: dict):
        # MONOTONIC: a re-planned older window (checkpointed-batch replay
        # after newer triggers) must not regress the admission cursor, or
        # a capped latestOffset would re-admit versions → duplicate rows
        self._cursor = max(self._cursor or 0, end["version"])
        prev = (
            _read_manifest(self.table, start["version"])["commits"]
            if start["version"]
            else []
        )
        slices: list[_CommitSlice] = []
        root = _local(self.table)
        for v in range(start["version"] + 1, end["version"] + 1):
            man = _read_manifest(self.table, v)
            cur = man["commits"]
            dropped = [c for c in prev if c not in cur]
            # RESTORE versions are rewrites even when the diff only
            # re-adds dirs (restore forward) — streaming them would
            # double-count rows consumed before the restore
            rewrite = bool(dropped) or man.get("restored_from") is not None
            if rewrite:
                if self.read_change_feed:
                    if man.get("cdf") is not None:
                        slices.extend(
                            _commit_slices(
                                os.path.join(root, man["cdf"]), version=v
                            )
                        )
                    elif not man.get("row_preserving"):
                        raise IOError(
                            f"v{v} is a rewrite with no change files and no "
                            "row_preserving declaration; CDF streams need "
                            "merges/deletes run with change_feed=True"
                        )
                elif not self.ignore_replaces:
                    raise IOError(
                        f"v{v} is a replace-commit (drops {dropped}, "
                        f"restored_from {man.get('restored_from')}); set "
                        "ignoreReplaces=true to stream past rewrites"
                    )
            else:
                for c in cur:
                    if c not in prev:
                        slices.extend(
                            _commit_slices(
                                os.path.join(root, c),
                                version=v if self.read_change_feed else None,
                                change_type="insert"
                                if self.read_change_feed
                                else None,
                            )
                        )
            prev = cur
        # Spark requires >=1 partition per batch
        return slices or [_CommitSlice("", [])]

    def read(self, partition: _CommitSlice):
        if not partition.files:
            return iter(())
        return _scan_commit(partition, self.schema)

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint; track locally for admission
        self._cursor = max(self._cursor or 0, end["version"])


#: idempotency keys retained in the manifest — mirrors manifest._KEY_WINDOW
_KEY_WINDOW = 100


def _py_commit_append(
    table: str, commit_dirs: list[str], idempotency_key: str
) -> int:
    """Pure-Python manifest CAS (driver-side of the streaming sink; the
    DataSource worker has no SparkSession). Same wire protocol and same
    SYSCALLS as manifest._try_commit — O_CREAT|O_EXCL claim, fully
    written tmp, kernel-atomic link(2) publish, post-publish writer-token
    verification — so Python-sink commits and JVM-side writers race
    safely on one table. One version may add SEVERAL commit dirs (one
    per sink task); snapshot/table_changes/manifest_feed all handle that."""
    import uuid as _uuid

    root = _local(table)
    mdir = os.path.join(root, _MANIFESTS)
    os.makedirs(mdir, exist_ok=True)
    for attempt in range(20):
        head = local_head_version(_local(table))
        prev = (
            _read_manifest(table, head)
            if head
            else {"commits": [], "keys": {}}
        )
        keys = dict(prev.get("keys") or {})
        if idempotency_key in keys:  # replayed batch: drop re-staged files
            import shutil

            for c in commit_dirs:
                shutil.rmtree(os.path.join(root, c), ignore_errors=True)
            return head
        keys[idempotency_key] = commit_dirs[0]
        while len(keys) > _KEY_WINDOW:
            keys.pop(next(iter(keys)))
        manifest = {
            "version": head + 1,
            "parent": head,
            "commits": prev["commits"] + commit_dirs,
            "keys": keys,
            "stats": prev.get("stats") or {},
            "writer": _uuid.uuid4().hex,
        }
        payload = json.dumps(manifest, sort_keys=True).encode("utf-8")
        claim = os.path.join(mdir, f"v{head + 1}.claim")
        try:
            os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            # lost the claim. Mirror the JVM path's self-healing: a claim
            # past the grace window with no published manifest is a dead
            # claimant — sweep it so the slot frees (publish stays safe
            # regardless: link(2) + token verify are the real CAS).
            import time as _time

            try:
                dead = (
                    not os.path.exists(os.path.join(mdir, f"v{head + 1}.json"))
                    and _time.time() - os.path.getmtime(claim) > 60.0
                )
            except FileNotFoundError:
                dead = False
            if dead:
                try:
                    os.remove(claim)
                except FileNotFoundError:
                    pass
            else:
                # a live claimant is mid-publish (a JVM writer spends
                # several gateway round trips between claim and link):
                # wait for it, or this loop's 20 re-reads of the same
                # head finish in a few ms and fail with nothing published
                _time.sleep(0.005 * (attempt + 1))
            continue  # re-read the head and retry
        try:
            dst = os.path.join(mdir, f"v{head + 1}.json")
            if os.path.exists(dst):
                continue
            tmp = os.path.join(mdir, f"v{head + 1}.json.tmp.{_uuid.uuid4().hex}")
            with open(tmp, "wb") as f:
                f.write(payload)
            try:
                os.link(tmp, dst)
            except FileExistsError:
                continue
            finally:
                os.remove(tmp)
            with open(dst, "rb") as f:
                if f.read() == payload:  # fencing-token verification
                    return head + 1
        finally:
            try:
                os.remove(claim)
            except FileNotFoundError:
                pass
    raise IOError(f"manifest sink lost the CAS race 20 times on {table}")


class _SinkCommit(WriterCommitMessage):
    def __init__(self, commit_dir: str | None):
        self.commit_dir = commit_dir


def _stage_rows(table: str, schema, iterator) -> _SinkCommit:
    """Executor-side half of the two-phase commit: write this task's rows
    as one immutable commit dir (pyarrow parquet with the EXACT arrow
    schema the Spark schema maps to) and report its name; staging is
    invisible until a driver-side manifest CAS references it."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    rows = list(iterator)
    if not rows:
        return _SinkCommit(None)
    arrow_schema = to_arrow_schema(schema)
    names = [f.name for f in schema.fields]
    cols = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    tbl = pa.table(
        {n: pa.array(cols[n], type=arrow_schema.field(n).type) for n in names},
        schema=arrow_schema,
    )
    commit_dir = f"data/{_uuid.uuid4().hex}"
    out_dir = os.path.join(_local(table), commit_dir)
    os.makedirs(out_dir)
    pq.write_table(tbl, os.path.join(out_dir, "part-00000.parquet"))
    return _SinkCommit(commit_dir)


class ManifestFeedStreamWriter(DataSourceStreamWriter):
    """Two-phase exactly-once sink: each TASK stages its rows as one
    immutable commit dir (pyarrow parquet, arrow schema derived from the
    Spark schema) and reports the dir name; the DRIVER publishes ONE
    manifest version adding every staged dir, keyed by the batch id —
    a replayed micro-batch is a no-op that deletes its re-staged files.
    A crashed batch's orphan dirs are unreferenced-and-young, exactly
    what vacuum's grace window reclaims."""

    def __init__(self, schema, options):
        self.table = options["table"]
        self.schema = schema

    def write(self, iterator) -> _SinkCommit:
        return _stage_rows(self.table, self.schema, iterator)

    def commit(self, messages, batchId: int) -> None:
        dirs = [m.commit_dir for m in messages if m is not None and m.commit_dir]
        if dirs:
            _py_commit_append(self.table, sorted(dirs), f"manifest-sink-b{batchId}")

    def abort(self, messages, batchId: int) -> None:
        import shutil

        for m in messages:
            if m is not None and m.commit_dir:
                shutil.rmtree(
                    os.path.join(_local(self.table), m.commit_dir),
                    ignore_errors=True,
                )


class ManifestSnapshotReader(DataSourceReader):
    """Batch read = one snapshot: bind the head (or ``version`` option)
    manifest's exact commit list at planning time, one InputPartition per
    commit dir, executor-side pyarrow scans — `spark.read.format(
    "manifest_feed")` is `manifest.snapshot` without a JVM-side union."""

    def __init__(self, schema, options):
        self.table = options["table"]
        self.schema = schema
        v = options.get("version")
        self.version = (
            int(v) if v is not None else local_head_version(_local(self.table))
        )

    def partitions(self):
        commits = (
            _read_manifest(self.table, self.version)["commits"] if self.version else []
        )
        slices = [
            sl
            for c in commits
            for sl in _commit_slices(os.path.join(_local(self.table), c))
        ]
        return slices or [_CommitSlice("", [])]

    def read(self, partition: _CommitSlice):
        if not partition.files:
            return iter(())
        return _scan_commit(partition, self.schema)


class ManifestBatchWriter(DataSourceWriter):
    """Batch append: tasks stage commit dirs, the driver CAS-publishes one
    manifest version (``mode("append")``; overwrite is a replace-commit of
    everything live — expressed through the JVM API, refused here)."""

    def __init__(self, schema, options, overwrite: bool):
        if overwrite:
            raise ValueError(
                "manifest_feed batch writes are append-only; use "
                "manifest.commit_replace for rewrites"
            )
        self.table = options["table"]
        self.schema = schema

    def write(self, iterator) -> _SinkCommit:
        return _stage_rows(self.table, self.schema, iterator)

    def commit(self, messages) -> None:
        import uuid as _uuid

        dirs = [m.commit_dir for m in messages if m is not None and m.commit_dir]
        if dirs:
            _py_commit_append(
                self.table, sorted(dirs), f"batch-write-{_uuid.uuid4().hex}"
            )

    def abort(self, messages) -> None:
        import shutil

        for m in messages:
            if m is not None and m.commit_dir:
                shutil.rmtree(
                    os.path.join(_local(self.table), m.commit_dir),
                    ignore_errors=True,
                )


class ManifestFeedDataSource(DataSource):
    """``format("manifest_feed")`` — register once per session:
    ``spark.dataSource.register(ManifestFeedDataSource)``. Fully
    symmetric: ``spark.read`` = snapshot (``version`` option time
    travels), ``spark.readStream`` = change feed, ``df.write`` = CAS
    append, ``df.writeStream`` = exactly-once two-phase sink."""

    @classmethod
    def name(cls) -> str:
        return "manifest_feed"

    def schema(self):
        # infer from the head snapshot's first commit via pyarrow (hive
        # partition columns included), converted through the same arrow->
        # Spark mapping the Pandas interop uses
        import pyarrow.dataset as pads

        from pyspark.sql.pandas.types import from_arrow_schema

        table = self.options["table"]
        head = local_head_version(_local(table))
        if head == 0:
            raise ValueError(
                f"manifest_feed needs at least one commit to infer a schema "
                f"(empty table: {table}); or pass an explicit .schema(...)"
            )
        commits = _read_manifest(table, head)["commits"]
        # newest commit: schema evolution only ADDS columns, so the last
        # commit carries the widest schema (older legs null-fill) — which
        # is also why every field must surface NULLABLE, whatever the
        # newest files claim
        from pyspark.sql.types import StructField, StructType

        ds = pads.dataset(os.path.join(_local(table), commits[-1]), partitioning="hive")
        inferred = from_arrow_schema(ds.schema)
        fields = [StructField(f.name, f.dataType, True) for f in inferred.fields]
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            from pyspark.sql.types import LongType, StringType

            fields += [
                StructField("_change_type", StringType(), True),
                StructField("_commit_version", LongType(), True),
            ]
        return StructType(fields)

    def reader(self, schema):
        return ManifestSnapshotReader(schema, self.options)

    def writer(self, schema, overwrite: bool):
        return ManifestBatchWriter(schema, self.options, overwrite)

    def streamReader(self, schema):
        return ManifestFeedStreamReader(schema, self.options)

    def streamWriter(self, schema, overwrite: bool):
        return ManifestFeedStreamWriter(schema, self.options)
