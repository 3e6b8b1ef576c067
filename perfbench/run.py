#!/usr/bin/env python3
"""perfbench: the repository benchmark.

Runs one workload (``kg_batch``, ``corpus_prep`` or
``incremental_ingest``, see workloads.py) against the library in this
checkout, checks its outputs, and prints one JSON result as the last
line of standard output::

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
program with spans and the Spark UI on and reports the per-layer
metrics instead (spans are written to ``.perfbench_out/``). All scratch
data lives in ``.perfbench_scratch/`` under the checkout root and is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".perfbench_build")
CLASS_ARCHIVE = os.path.join(BUILD, "spark-classes.jsa")
SETUP_REPS = 3  # input generations in set-up; setup_s takes their median

SPEC = os.path.join(ROOT, "BENCHMARK.json")  # metric names and units


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical memory, within [1 GiB, 8 GiB]."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(8192, total_mb // 4))
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def class_cache_opts() -> str:
    """JVM options for a class-data-sharing archive of the classes the
    driver JVM loads: the first run in a checkout writes it when its JVM
    exits, later runs map it instead of loading and verifying every
    class again (seconds per JVM start). The archive needs a class path
    without non-empty directories, hence the empty SPARK_CONF_DIR."""
    if os.path.exists(CLASS_ARCHIVE):
        return f"-XX:SharedArchiveFile={CLASS_ARCHIVE}"
    return f"-XX:ArchiveClassesAtExit={CLASS_ARCHIVE}.tmp"


def session_conf(scratch: str, cores: int, traced: bool) -> dict:
    tmp = os.path.join(scratch, "tmp")
    heap_mb = driver_memory_mb()
    # a fixed heap and young generation: with G1's adaptive sizing the
    # pages a job touches, hence peak RSS, follow GC timing and spread
    # ~25% between runs; fixed, RSS tracks what the program retains
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {class_cache_opts()} "
        f"-Xms{heap_mb}m -Xmn512m -Xlog:disable -Xlog:all=warning:stderr"
    )
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.knetminer.stagingDir": os.path.join(scratch, "staging"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if traced else "false",
    }
    if traced:
        conf.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "100",
                "spark.sql.ui.retainedExecutions": "50",
            }
        )
    return conf


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer samples."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    r = n - 10  # 1-based rank with exactly ten samples above it
    return s[r - 1], 100.0 * r / n


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=120)
        except Exception:
            proc.kill()
            proc.wait()
    if proc is not None and proc.returncode == 0 and os.path.exists(CLASS_ARCHIVE + ".tmp"):
        os.replace(CLASS_ARCHIVE + ".tmp", CLASS_ARCHIVE)


def parse_args(argv):
    ap = argparse.ArgumentParser(description="knetminer_etl_spark benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["kg_batch", "corpus_prep", "incremental_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] threads (default: every core this process may use)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "knetminer_etl_spark", "__init__.py")):
        print(f"perfbench: no knetminer_etl_spark package in {ROOT}", file=sys.stderr)
        return 2
    with open(SPEC) as fh:
        spec = json.load(fh)
    cores = args.cores or host_cores()
    scratch = os.path.join(ROOT, ".perfbench_scratch")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(scratch, d))
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "conf"), exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = os.path.join(BUILD, "conf")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    # the spark-submit launcher JVM, too, keeps its files in the scratch
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the library too (the loader's partition writer)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_MASTER", None)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(HERE, "stub"))
    try:
        return run(args, spec, cores, scratch, out_dir)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def run(args, spec: dict, cores: int, scratch: str, out_dir: str) -> int:
    import knetminer_etl_spark
    from knetminer_etl_spark.runtime import get_session

    if not os.path.abspath(knetminer_etl_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: imported knetminer_etl_spark from outside the checkout", file=sys.stderr)
        return 2
    import spans
    import workloads

    traced = bool(args.trace)
    t0 = time.perf_counter()
    spark = get_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        conf=session_conf(scratch, cores, traced),
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(os.path.join(HERE, "stub", "neo4j.py"))
    session_s = time.perf_counter() - t0
    try:
        tracer = spans.Tracer(spark, traced)
        ctx = workloads.Context(spark, args.seed, scratch, cores, tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        # set-up = session start + input generation (repeated; median)
        # + warm-up or preload (once: a second one would run warm)
        prep_times = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(rep)
            prep_times.append(time.perf_counter() - t)
        tracer.job = "warm"
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t

        results, crashed, peaks = [], 0, []
        pids = (spark._jvm.java.lang.ProcessHandle.current().pid(), os.getpid())
        deadline = time.perf_counter() + args.seconds
        while len(results) < wl.MIN_JOBS or time.perf_counter() < deadline:
            tracer.job = f"m{len(results)}"
            # start every job from a collected heap, so a full GC owed to
            # earlier work does not land in its timing
            gc.collect()
            spark._jvm.System.gc()
            for pid in pids:
                spans.reset_hwm(pid)
            try:
                results.append(wl.job(len(results)))
            except Exception:
                traceback.print_exc()
                crashed = 1
                break
            peaks.append(sum(spans.vm_hwm_mb(pid) for pid in pids))
        if not results:
            raise RuntimeError("the first measured job failed")
        tracer.job = "finish"
        t = time.perf_counter()
        final_failed = wl.finish(results)
        finish_s = time.perf_counter() - t
        for i, res in enumerate(results):
            if res.failed:
                print(f"perfbench: job {i} failed checks {res.failed}", file=sys.stderr)
        if final_failed:
            print(f"perfbench: final checks failed {final_failed}", file=sys.stderr)
        attempted = sum(r.ops for r in results) + crashed + 1
        failed_ops = sum(1 for r in results if r.failed) + crashed + bool(final_failed)

        job_s = [r.seconds for r in results]
        tail_v, tail_p = tail(job_s)
        reads = [r.read_s for r in results if r.read_s is not None]
        e2e = {
            "setup_s": session_s + spans.median(prep_times) + warm_s,
            "job_s_p50": spans.median(job_s),
            "job_s_tail": tail_v,
            "rows_per_s": sum(r.rows for r in results) / sum(job_s),
            "read_s_p50": spans.median(reads),
            "bytes_written_per_input_byte": wl.written_ratio(results),
            "stored_bytes_per_input_byte": wl.stored_ratio(results),
            "peak_rss_mb": max(peaks),
        }
        print(
            f"perfbench: workload={args.workload} seed={args.seed} cores={cores} "
            f"jobs={len(job_s)} job_s_tail=p{tail_p:.1f} (n={len(job_s)}) "
            f"reads={len(reads)} session_s={session_s:.3f} "
            f"prepare_s={[round(x, 3) for x in prep_times]} warm_s={warm_s:.3f} "
            f"finish_s={finish_s:.3f} {wl.describe()} "
            f"ops_failed_frac={failed_ops / max(attempted, 1):.4f}"
        )
        last_path = os.path.join(out_dir, f"last_{args.workload}_c{cores}_trace{args.trace}.json")
        with open(last_path, "w") as fh:
            json.dump({"seed": args.seed, "cores": cores, **e2e}, fh)
        values = layer_report(args, ctx, tracer, out_dir, e2e, cores) if traced else e2e
        listed = spec["per_layer" if traced else "end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
        result = {
            "correct": failed_ops == 0,
            "attempted": attempted,
            "failed": failed_ops,
            "metrics": metrics,
        }
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        print(f"perfbench: stop_s={time.perf_counter() - t:.3f}")
    print(json.dumps(result))
    return 0


def layer_report(args, ctx, tracer, out_dir: str, e2e: dict, cores: int) -> dict:
    import spans
    from layers import per_layer_metrics

    jobs, stages = spans.fetch_spark_jobs(ctx.spark.sparkContext)
    measured = [s for s in tracer.spans if s["job"].startswith("m")]
    values, extra = per_layer_metrics(measured, jobs, stages, ctx.counters)
    tracer.write(os.path.join(out_dir, f"spans_{args.workload}_seed{args.seed}.jsonl"))
    untraced = os.path.join(out_dir, f"last_{args.workload}_c{cores}_trace0.json")
    if os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)
        extra["tracing_overhead_job_s_p50"] = e2e["job_s_p50"] - base["job_s_p50"]
    print("perfbench: traced extras " + json.dumps(extra, sort_keys=True))
    return values


if __name__ == "__main__":
    sys.exit(main())
