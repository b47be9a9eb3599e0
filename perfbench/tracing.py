"""Per-operation tracing from outside the program.

Each traced operation runs under its own Spark job group. After the
operation returns, and outside its timed interval, the tracer reads the
group's jobs from ``statusTracker().getJobIdsForGroup`` and each job's
stages from the status store (``statusStore().job`` and
``lastStageAttempt``). Results are kept as spans in memory and written
out when the run ends.

The session keeps only the last 200 jobs and 200 stages
(``session.STATUS_RETENTION``), so anything read late may already be
evicted. Two checks make that loud instead of silent:

* every job id the DAG scheduler handed out inside the traced window
  must have been read back under its operation's group
  (``check_ledger``): an evicted or ungrouped job leaves a hole;
* every stage a traced job ran (its completed and failed stage counts)
  must still have an attempt in the store; skipped stages, which carry
  no work and are evicted first, may be gone.

Either failure raises ``TraceUndercount``.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from contextlib import contextmanager

#: stage fields summed per operation: (output name, StageData getter, scale)
_STAGE_SUMS = (
    ("tasks", "numTasks", 1),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


class TraceUndercount(RuntimeError):
    pass


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def _covered_ms(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of intervals (ms)."""
    spans = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Job groups, spans and per-operation Spark counters.

    Disabled, ``op()`` only yields a span dict and sets no job group, so
    the untraced run pays nothing but two clock reads."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.read_s = 0.0
        self._seen_jobs: set[int] = set()
        self._counted_stages: set[int] = set()
        self._lock = threading.Lock()
        self._seq = 0
        self._mark = -1
        if enabled:
            self._store = spark.sparkContext._jsc.sc().statusStore()

    @contextmanager
    def op(self, name: str, rid=None):
        """Time one operation. Yields its span; after the block the span
        carries wall_ms and, traced, the Spark counters of its jobs."""
        with self._lock:
            self._seq += 1
            sid = self._seq
        span = {"id": sid, "name": name, "rid": rid, "parent": None}
        sc = self.spark.sparkContext
        group = f"perfbench-{sid}"
        if self.enabled:
            sc.setJobGroup(group, name)
        span["start_ms"] = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span["wall_ms"] = (time.perf_counter() - t0) * 1e3
            span["end_ms"] = span["start_ms"] + span["wall_ms"]
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                t1 = time.perf_counter()
                self._read_group(group, span)
                self.read_s += time.perf_counter() - t1
            with self._lock:
                self.spans.append(span)

    def child(self, parent: dict, name: str, start_ms: float, end_ms: float) -> None:
        """Record a span timed by the caller inside ``parent``."""
        with self._lock:
            self._seq += 1
            self.spans.append({
                "id": self._seq, "name": name, "rid": parent.get("rid"),
                "parent": parent["id"], "start_ms": start_ms, "end_ms": end_ms,
                "wall_ms": end_ms - start_ms,
            })

    def _read_group(self, group: str, span: dict) -> None:
        sc = self.spark.sparkContext
        # the status listener runs on its own queue: let it catch up with
        # every event posted so far, this operation's job ends included
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        ids = sorted(int(j) for j in sc.statusTracker().getJobIdsForGroup(group))
        store = self._store
        jobs = [store.job(jid) for jid in ids]
        sums = {k: 0.0 for k, _, _ in _STAGE_SUMS}
        n_stages = 0
        wait_ms = 0.0
        intervals = []
        ran = 0  # stages the jobs report as completed or failed
        for jid, jd in zip(ids, jobs):
            grp = jd.jobGroup()
            if not grp.isDefined() or grp.get() != group:
                raise TraceUndercount(f"job {jid} is not in group {group}")
            with self._lock:
                self._seen_jobs.add(jid)
            ran += int(jd.numCompletedStages()) + int(jd.numFailedStages())
            j_start, j_end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if j_start is not None and j_end is not None:
                intervals.append((j_start, j_end))
                self.child(span, "spark.job", j_start, j_end)
            for stage_id in (int(x) for x in jd.stageIds().mkString(",").split(",") if x):
                if stage_id in self._counted_stages:
                    continue  # reused by a later job: counted where it ran
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 - evicted; judged below
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                self._counted_stages.add(stage_id)
                n_stages += 1
                for key, getter, scale in _STAGE_SUMS:
                    sums[key] += float(getattr(st, getter)()) * scale
                sub = _opt_ms(st.submissionTime())
                first = _opt_ms(st.firstTaskLaunchedTime())
                if sub is not None and first is not None:
                    wait_ms += max(0.0, first - sub)
        # skipped stages are evicted first and carry no work; a stage that
        # ran but is gone means the counters below would be short
        if n_stages < ran:
            raise TraceUndercount(
                f"{group}: its jobs ran {ran} stages but only {n_stages} are "
                f"still in the status store"
            )
        span["jobs"] = len(ids)
        span["stages"] = n_stages
        span["stage_wait_s"] = wait_ms / 1e3
        span.update(sums)
        span["driver_ms"] = span["wall_ms"] - _covered_ms(
            span["start_ms"], span["end_ms"], intervals
        )

    def last_job_id(self) -> int:
        """Newest job id the DAG scheduler has handed out (-1 before the
        first job). Read from the scheduler, not the status store, so an
        evicted job cannot hide from the ledger."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()) - 1

    def start_window(self) -> None:
        """Start the ledger: every job after this point must be read back."""
        self._mark = self.last_job_id()
        self._seen_jobs.clear()

    def check_ledger(self) -> int:
        """Raise unless every job since ``start_window`` was read back from
        the store under its own group; returns the number of jobs."""
        last = self.last_job_id()
        missing = [j for j in range(self._mark + 1, last + 1) if j not in self._seen_jobs]
        if missing:
            seen = []
            for j in missing[:3]:
                try:
                    jd = self._store.job(j)
                    seen.append(f"{j}: group={jd.jobGroup()} {jd.name()[:120]}")
                except Exception:  # noqa: BLE001 - evicted
                    seen.append(f"{j}: evicted")
            print("perfbench: untraced jobs: " + "; ".join(seen), file=sys.stderr)
            raise TraceUndercount(
                f"{len(missing)} of {last - self._mark} Spark jobs in the traced window "
                f"were never read back (evicted from the status store, or run outside "
                f"a traced group), e.g. {missing[:10]}"
            )
        return last - self._mark

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def spark_layers(spans: list[dict], seconds: float, cores: int) -> dict:
    """spark.* per operation (mean over a traced window's operations),
    plus executor utilisation: executor run time / (window wall x cores)."""
    n = max(1, len(spans))
    keys = ("jobs", "stages", "tasks", "gc_s", "spill_bytes", "executor_run_s",
            "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "stage_wait_s")
    m = {f"spark.{k}": sum(s[k] for s in spans) / n for k in keys}
    m["spark.executor_util"] = sum(s["executor_run_s"] for s in spans) / (seconds * cores)
    return m


def traced_twice(tracer: Tracer, window, seconds: float):
    """Run ``window(seconds)``. Traced, run an untraced window and then a
    traced one, each half as long, so a traced run costs about what an
    untraced one does. Returns (the traced or only result, the untraced
    result or None)."""
    if not tracer.enabled:
        return window(seconds), None
    tracer.enabled = False
    base = window(seconds / 2)
    tracer.enabled = True
    tracer.start_window()
    return window(seconds / 2), base
