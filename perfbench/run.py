"""Lakehouse benchmark: closed-loop workloads on generated sf0.1-shaped data.

Run from the root of a repository checkout:

    python3 perfbench/run.py --workload cdc_medallion --seed 1 --seconds 10 --trace 0

One client runs ops back to back on ``local[<cores>]`` with 4 shuffle
partitions. With ``--trace 0`` the last stdout line is a JSON object
with the end-to-end metrics (see BENCHMARK.json); ``--trace 1`` runs
the same window untraced and then traced, and reports the per-layer
metrics instead, writing the spans to ``perfbench/out/``. All files
the run creates live under ``perfbench/work/<pid>/`` and are removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("curation_build", "cdc_medallion")


def process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM"))
    return kb / 1024


def jvm_live_mb(sc) -> float:
    """Heap the driver JVM still uses after forced full GCs, plus its
    non-heap use (metaspace, code cache): what the driver holds, where
    the JVM's resident size shows how much heap the GC has touched. GCs
    repeat until the heap stops shrinking, as Spark's cleaner frees
    shuffle and broadcast state only after a GC has found it
    unreachable."""
    import gc

    gc.collect()    # drop Python proxies, so py4j releases the JVM objects
    mx = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = float("inf")
    for _ in range(5):
        mx.gc()
        last, heap = heap, mx.getHeapMemoryUsage().getUsed()
        if last - heap < 2**20:
            break
        time.sleep(0.2)
    return (heap + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


def isolate(work: str) -> None:
    """Keep every file the run writes (Python, JVM and DuckDB temp
    files, Spark local dirs) inside the work directory."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (Spark's launcher and the driver): temp files here, and
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()


def start_session(work: str):
    from mydatalake_spark import session

    cores = len(os.sched_getaffinity(0))
    spark = session.get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=4,
        warehouse_dir=os.path.join(work, "spark-warehouse"),
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # The heap starts at its maximum size. Grown by the GC from
            # its default start instead, it ended between 1.4 and 3 GB,
            # and the warm curation op took 3.5-5.6 s from run to run.
            "spark.driver.extraJavaOptions": "-Xms4g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def patch_layers(tracer) -> None:
    from mydatalake_spark import ingest, jobs
    from mydatalake_spark.catalog import Catalog
    from mydatalake_spark.operators import merge
    from mydatalake_spark.plans import table_sql
    from mydatalake_spark.quality.runner import CheckRunner

    tracer.patch(jobs.JobRunner, "run", "jobs.run")
    tracer.patch(ingest.Ingestor, "load", "ingest.load")
    tracer.patch(merge, "merge_upsert", "merge.merge_upsert")
    for m in ("read", "overwrite_via_staging", "overwrite"):
        tracer.patch(Catalog, m, f"catalog.{m}")
    for m in ("execute", "compile_results", "save_results",
              "aggregate_results", "upsert_history"):
        tracer.patch(CheckRunner, m, f"quality.{m}")
    tracer.patch(table_sql, "run_table_sql",
                 lambda catalog, sql, *a, **k: "table_sql." + sql.split()[0].lower())


def log_op(op, elapsed: float, ok: bool, traced: bool = False) -> None:
    print(f"perfbench: op {getattr(op, 'number', op)} {elapsed:.3f}s"
          f"{' traced' if traced else ''}{'' if ok else ' FAILED'}",
          file=sys.stderr, flush=True)


def run_window(w) -> tuple[list[float], int]:
    latencies, failed = [], 0
    for op in w.ops():
        elapsed, ok = w.run_op(op)
        log_op(op, elapsed, ok)
        latencies.append(elapsed)
        failed += not ok
    return latencies, failed


def run_traced(w, tracer) -> tuple[dict[bool, list[float]], int, int]:
    """Run the workload's op pairs, one op of each pair traced, in the
    order untraced-traced, traced-untraced, … so that warm-up drift
    falls on both sides alike. Returns latencies by traced flag, the
    failed count and the jobs that ran without a job group during
    traced ops."""
    tracker = tracer.sc.statusTracker()
    latencies: dict[bool, list[float]] = {False: [], True: []}
    failed = unattributed = 0
    for i, pair in enumerate(w.trace_pairs()):
        for op, traced in zip(pair, (i % 2 == 1, i % 2 == 0)):
            tracer.enabled = traced
            w.tracer = tracer if traced else None
            if traced:
                ungrouped = set(tracker.getJobIdsForGroup(None))
                tracer.op = f"{w.name}-{i}"
                with tracer.span("op"):
                    elapsed, ok = w.run_op(op)
                unattributed += len(set(tracker.getJobIdsForGroup(None)) - ungrouped)
            else:
                elapsed, ok = w.run_op(op)
            log_op(op, elapsed, ok, traced)
            latencies[traced].append(elapsed)
            failed += not ok
    tracer.enabled = False
    w.tracer = None
    return latencies, failed, unattributed


def layer_metrics(tracer, sc, unattributed: int, overhead_s: float) -> dict:
    from tracing import stage_counters

    tracer.collect_jobs()
    self_s = tracer.self_seconds()
    exec_jobs = tracer.inclusive_jobs("spark.exec")
    counters = stage_counters(sc, exec_jobs)
    return {
        "entry.build_s": self_s["entry.build"],
        "entry.build_jobs": len(tracer.inclusive_jobs("entry.build")),
        "spark.exec_s": self_s["spark.exec"],
        "spark.exec_jobs": len(exec_jobs),
        "spark.exec_tasks": counters["tasks"],
        "spark.shuffle_write_bytes": counters["shuffle_write_bytes"],
        "spark.spill_bytes": counters["spill_bytes"],
        "spark.failed_tasks": counters["failed_tasks"],
        "spark.unattributed_jobs": unattributed,
        "jobs.run_s": self_s["jobs.run"],
        "ingest.load_s": self_s["ingest.load"],
        "merge.merge_upsert_s": self_s["merge.merge_upsert"],
        "catalog.read_s": self_s["catalog.read"],
        "catalog.overwrite_via_staging_s": self_s["catalog.overwrite_via_staging"],
        "catalog.overwrite_s": self_s["catalog.overwrite"],
        "catalog.commit_jobs": len(tracer.inclusive_jobs(
            "catalog.overwrite", "catalog.overwrite_via_staging")),
        "quality.compile_results_s": self_s["quality.compile_results"],
        "quality.save_results_s": self_s["quality.save_results"],
        "quality.aggregate_results_s": self_s["quality.aggregate_results"],
        "quality.upsert_history_s": self_s["quality.upsert_history"],
        "quality.jobs": len(tracer.inclusive_jobs("quality.execute")),
        "table_sql.delete_s": self_s["table_sql.delete"],
        "table_sql.refresh_s": self_s["table_sql.refresh"],
        "table_sql.jobs": len(tracer.inclusive_jobs(
            "table_sql.delete", "table_sql.refresh")),
        "session.get_spark_s": self_s["session.get_spark"],
        "trace.overhead_s": overhead_s,
    }


def declared_units(trace: bool) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json declares them."""
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def log(started: float, msg: str) -> None:
    print(f"perfbench: {time.time() - started:7.2f}s {msg}", file=sys.stderr, flush=True)


def run(args, work: str, started: float) -> dict:
    import workloads
    from tracing import Tracer

    root = os.getcwd()
    if args.workload == "cdc_medallion":
        w = workloads.CdcMedallion(args.seed, args.seconds, work, root,
                                   windows=2 if args.trace else 1)
    else:
        w = workloads.CurationBuild(args.seconds, work, root)
    w.prepare()
    log(started, "inputs written")
    tracer = Tracer()
    if args.trace:
        from mydatalake_spark import session
        tracer.patch(session, "get_spark", "session.get_spark")
    spark = start_session(work)
    try:
        sc = spark.sparkContext
        log(started, "session started")
        w.setup(spark)
        setup_s = time.time() - started
        if args.trace:
            tracer.sc = sc
            patch_layers(tracer)
            latencies, failed, unattributed = run_traced(w, tracer)
            tracer.unpatch()
            attempted = len(latencies[False]) + len(latencies[True])
            metrics = layer_metrics(tracer, sc, unattributed,
                                    sum(latencies[True]) - sum(latencies[False]))
            metrics.update(w.storage_metrics())
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            tracer.write(os.path.join(
                HERE, "out", f"spans_{args.workload}_seed{args.seed}.jsonl"))
        else:
            latencies, failed = run_window(w)
            attempted = len(latencies)
            metrics = {
                "setup_s": setup_s,
                "run_s": sum(latencies),
                "op_p50_s": statistics.median(latencies),
                # before the end-state checks, which are not the program's
                "driver_py_rss_mb": peak_rss_mb("self"),
                "driver_jvm_live_mb": jvm_live_mb(sc),
            }
        log(started, f"{attempted} ops run")
        correct = w.finish() and failed == 0
        log(started, "outputs checked")
        if not correct and failed == 0:
            failed = attempted      # end-state mismatch: no op is trusted
        if args.trace:
            metrics["failed_ratio"] = failed / attempted
    finally:
        tracer.unpatch()
        stop_session(spark)
    units = declared_units(bool(args.trace))
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(units) ^ set(metrics))}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main() -> None:
    started = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "mydatalake_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        sys.exit("perfbench: run from a repository checkout root "
                 "(mydatalake_spark/ and __spark_entry__.py not found)")
    sys.path.insert(0, root)
    work = os.path.join(HERE, "work", str(os.getpid()))
    isolate(work)
    try:
        result = run(args, work, started)
    except Exception:
        traceback.print_exc()
        sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    print(json.dumps(result))


if __name__ == "__main__":
    main()
