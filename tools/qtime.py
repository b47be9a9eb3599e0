"""Ad-hoc per-query timer, job counter + plan capture for optimization work.

    python tools/qtime.py q1 q2 ...            # time named queries at sf0.1
    python tools/qtime.py --explain q1 ...     # also dump .explain("formatted")
    python tools/qtime.py --sf /root/testdata/sf0.01 q1

Methodology matches bench.py (warmup limit(1).collect(), then best-of-2
full .collect()) so numbers are comparable with BENCH_FULL.json rows.
Each timed run is a Spark job group of its own; `jobs=` is the number of
jobs the best run's group holds (fn() plus the collect), read from the
status tracker after the run. The session keeps the last 200 jobs
(session.STATUS_RETENTION), so a count that high may be an undercount
and is marked `(evicted?)`. Plans go to plans/r11/<query>_<tag>.txt when
--explain/--tag are given.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _timed(spark, run, group: str) -> tuple[float, int, int]:
    """run() in the job group `group`: (wall seconds, rows it returned,
    jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        n = len(run())
        dt = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return dt, n, len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    explain = False
    tag = None
    names = []
    it = iter(args)
    for a in it:
        if a == "--sf":
            sf_dir = next(it)
        elif a == "--explain":
            explain = True
        elif a == "--tag":
            tag = next(it)
        else:
            names.append(a)

    import __spark_entry__ as entrymod
    from pdf_parse_vector_db_spark.session import STATUS_RETENTION, get_spark

    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    retained = int(STATUS_RETENTION["spark.ui.retainedJobs"])
    os.makedirs(os.path.join(ROOT, "plans", "r11"), exist_ok=True)

    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        if explain and tag:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = os.path.join(ROOT, "plans", "r11", f"{name}_{tag}.txt")
            with open(out, "w") as fh:
                fh.write(plan)
            print(f"{name}: plan -> {out}")
        fn(spark, sf_dir).limit(1).collect()  # warmup
        best = None
        for i in range(2):
            dt, n, jobs = _timed(spark, lambda: fn(spark, sf_dir).collect(), f"qtime:{name}:{i}")
            if best is None or dt < best[0]:
                best = (dt, jobs)
        dt, jobs = best
        flag = " (evicted?)" if jobs >= retained else ""
        print(f"{name}: {dt:.3f}s  jobs={jobs}{flag}  ({n} rows)")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
