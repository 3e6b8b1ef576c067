"""Micro-bench one or more registry queries at a given sf_dir with the
same warm/best-of-N discipline as bench.py — the iteration loop for
single-query plan work. Usage:

    python tools/qbench.py [sf_dir] name [name ...]

Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_WARMUPS (default 3),
SPARK_GRAFT_TIMED_RUNS (default 4).
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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
        "spark.ui.enabled": "false",
        "spark.cleaner.periodicGC.interval": "10min",
    }
    # driver heap: get_session's default unless the caller sizes it
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        conf["spark.driver.memory"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    spark = get_session(
        app_name="qbench",
        master=f"local[{cpus}]",
        conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_warm = int(os.environ.get("SPARK_GRAFT_WARMUPS", "3"))
    n_timed = int(os.environ.get("SPARK_GRAFT_TIMED_RUNS", "4"))

    for name in args:
        fn = QUERIES[name]
        reps = []
        for _ in range(n_warm):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_pinned_rdds(spark)
        gc.collect()
        spark._jvm.System.gc()
        for _ in range(n_timed):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
            release_pinned_rdds(spark)
            gc.collect()
            spark._jvm.System.gc()
        print(
            f"{name:40s} best {min(reps):6.3f}  reps "
            + " ".join(f"{r:.3f}" for r in reps)
        )


if __name__ == "__main__":
    main()
