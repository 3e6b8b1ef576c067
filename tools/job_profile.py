"""Job-structure profiler for one registry query: warm it like bench.py,
run one timed rep, then dump every Spark job of that rep (description,
duration, gap since previous job) from the UI REST API — the guide §1/§7
instrument for attributing wall time to sequential driver-synchronized
actions vs cluster compute. Usage:

    python tools/job_profile.py [sf_dir] name [name ...]

Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_WARMUPS (default 2).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _api(port: int, path: str):
    with urllib.request.urlopen(
        f"http://localhost:{port}/api/v1/{path}", timeout=10
    ) as r:
        return json.load(r)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    if not args:
        print(__doc__)
        sys.exit(2)

    from knetminer_etl_spark.queries import QUERIES
    from knetminer_etl_spark.runtime import get_session
    from knetminer_etl_spark.runtime.session import release_pinned_rdds

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    conf = {
        "spark.sql.shuffle.partitions": cpus,
        "spark.ui.enabled": "true",
        "spark.cleaner.periodicGC.interval": "10min",
    }
    # driver heap: get_session's default unless the caller sizes it
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        conf["spark.driver.memory"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    spark = get_session(
        app_name="job-profile",
        master=f"local[{cpus}]",
        conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[-1])
    app_id = _api(port, "applications")[0]["id"]
    n_warm = int(os.environ.get("SPARK_GRAFT_WARMUPS", "2"))

    for name in args:
        fn = QUERIES[name]
        for _ in range(n_warm):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_pinned_rdds(spark)
        gc.collect()
        spark._jvm.System.gc()
        before_jobs = {j["jobId"] for j in _api(port, f"applications/{app_id}/jobs")}
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        jobs = [
            j
            for j in _api(port, f"applications/{app_id}/jobs")
            if j["jobId"] not in before_jobs
        ]
        jobs.sort(key=lambda j: j["jobId"])

        def _ts(s: str) -> float:
            from datetime import datetime

            return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()

        print(f"\n=== {name}: wall {wall:.3f}s, {len(jobs)} jobs ===")
        prev_end = None
        total_job = 0.0
        total_gap = 0.0
        for j in jobs:
            sub = _ts(j["submissionTime"])
            end = _ts(j["completionTime"]) if j.get("completionTime") else sub
            dur = end - sub
            gap = (sub - prev_end) if prev_end is not None else 0.0
            total_job += dur
            total_gap += max(gap, 0.0)
            desc = (j.get("description") or j.get("name") or "")[:90]
            print(
                f"  job {j['jobId']:>4}  dur {dur:6.3f}s  gap {gap:6.3f}s  "
                f"stages {len(j['stageIds']):>2}  tasks {j['numTasks']:>5}  {desc}"
            )
            prev_end = end
        print(
            f"  --- sum(job) {total_job:.3f}s  sum(gap) {total_gap:.3f}s  "
            f"wall {wall:.3f}s"
        )
        release_pinned_rdds(spark)
        gc.collect()
        spark._jvm.System.gc()


if __name__ == "__main__":
    main()
