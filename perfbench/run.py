"""Benchmark of the engine: registry queries and the ETL sync, end to end
and layer by layer.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 40 --trace 0

Run it from the repository root. Workloads:

- ``queries``: a pinned panel of registry keys (perfbench/keys.py), single-
  plan relational keys and eager-checkpoint/Python-worker operator keys,
  in an order shuffled by the seed;
- ``etl-sync``: full sync, fixed-window documents sync and full re-sync
  of seeded dirty Bsale-shaped sources through the paginated REST source,
  the partitioned parquet warehouse and the Sheets mirror.

Every run is one process with a ``local[<cpus>]`` session, and measures
one pass over its workload's operations (about ``--seconds`` on four
cores). Outputs are checked: each key's fingerprint against
perfbench/goldens.json, each sync against the counts the generator
implies, the mirror against the warehouse, and the re-sync for
idempotence. The last stdout line is one JSON object: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced pass plus the tracing overhead, the time the tracer itself spent
inside the timed operations.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("queries", "etl-sync")

END_TO_END = {"setup_s": "s", "work_s": "s"}
PER_LAYER = {
    "ops.p50_s": "s", "ops.max_s": "s", "session.peak_rss_mb": "MB",
    "session.start_s": "s", "session.warmup_s": "s", "session.synth_s": "s",
    "queries.build_s": "s", "queries.action_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.cpu_share": "ratio", "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.failed_tasks": "count",
    "python.total_s": "s", "python.boot_s": "s", "python.bytes_sent": "bytes",
    "checkpoint.persisted_rdds": "count", "checkpoint.leaked_rdds": "count",
    "rest.pages": "count", "rest.extract_s": "s",
    "entities.validate_s": "s", "entities.rows_valid": "count", "entities.rows_invalid": "count",
    "warehouse.upsert_s": "s", "warehouse.partitions_touched": "count",
    "warehouse.files_written": "count", "warehouse.bytes_written": "bytes",
    "warehouse.files_live": "count", "warehouse.write_amp": "ratio",
    "mirror.s": "s", "mirror.cells": "count",
    "etl.full_load_s": "s", "etl.incremental_s": "s", "etl.resync_s": "s",
    "trace.overhead_s": "s", "trace.overhead_share": "ratio",
    **{f"{fam}.{m}": "s" for fam in ("q-relational", "q-operators") for m in ("work_s", "build_s", "python_s")},
}


def parse_args(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py", allow_abbrev=False)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int, help="planned measuring time")
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def start_session(cpus: int, work: str):
    from imperio_patitas_etl_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            # the traced run reads every SQL execution of a key back
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM, which exits once its stdin
    closes; its Python workers go with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    from perfbench.tracing import vm_hwm_mb

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests so far (0 on bare
    metal): a noisy neighbour shows here, not in our own timings."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def measure(args, cpus: int, work: str) -> tuple[dict, dict]:
    """Set up, run the workload, and return (result, info)."""
    from perfbench import workloads as wl
    from perfbench.keys import FAMILIES, PANEL
    from perfbench.stats import failed_share, seeded_order
    from perfbench.tracing import SparkCounters, Tracer

    steal0 = steal_s()
    t0 = time.perf_counter()
    spark = start_session(cpus, work)
    start_s = time.perf_counter() - t0
    tracer = Tracer(enabled=bool(args.trace))
    ctx = wl.Ctx(spark, work, args.seed, tracer)
    try:
        if args.workload == "etl-sync":
            inputs, parts = wl.etl_setup(ctx)
            ctx.counters = SparkCounters(spark) if args.trace else None
            out = wl.run_etl(ctx, inputs)
            data = f"etl sources {wl.ETL_SIZES}"
        else:
            data_dir, parts = wl.query_setup(ctx)
            with open(os.path.join(ROOT, "perfbench", "goldens.json")) as f:
                goldens = json.load(f)["keys"]
            keys = seeded_order(PANEL, args.seed)
            family = {k: fam for fam, ks in FAMILIES.items() for k in ks}
            ctx.counters = SparkCounters(spark) if args.trace else None
            out = wl.run_queries(ctx, keys, family, data_dir, goldens)
            data = f"generated tables at sf{wl.QUERY_SF}"
        rss = peak_rss_mb(spark)
        info = {"spark": spark.version}
    finally:
        stop_session(spark)

    info.update(
        workload=args.workload, seed=args.seed, cpus=cpus, data=data,
        operations=out.attempted, failed_share=failed_share(out.attempted, out.failed),
        setup=f"start {start_s:.2f} s, synth {parts['synth_s']:.2f} s, warmup {parts['warmup_s']:.2f} s",
        steal=f"{steal_s() - steal0:.2f} s",
    )
    if not args.trace:
        values = {"setup_s": start_s + parts["synth_s"] + parts["warmup_s"], "work_s": sum(out.walls)}
        units = END_TO_END
    else:
        values = layer_values(tracer, out, cpus, start_s, parts, args.workload)
        values["session.peak_rss_mb"] = rss
        units = PER_LAYER
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    return result, info


def layer_values(tracer, out, cpus: int, start_s: float, parts: dict, workload: str) -> dict:
    c = tracer.counters
    v = dict(c)
    traced_s = sum(out.walls)
    v.update({
        "ops.p50_s": statistics.median(out.walls) if out.walls else 0.0,
        "ops.max_s": max(out.walls, default=0.0),
        "session.start_s": start_s,
        "session.warmup_s": parts["warmup_s"],
        "session.synth_s": parts["synth_s"],
        "queries.build_s": tracer.total("build"),
        "queries.action_s": tracer.total("action"),
        "exec.cpu_share": c["exec.cpu_s"] / (traced_s * cpus) if traced_s else 0.0,
    })
    if workload == "etl-sync":
        v.update(zip(("etl.full_load_s", "etl.incremental_s", "etl.resync_s"), out.walls))
    # the tracer's own work inside the timed operations: reading the
    # persisted RDDs between build and action, walking the warehouse files
    # around each upsert; its counters are read outside the timings
    overhead = tracer.total("trace")
    v["trace.overhead_s"] = overhead
    v["trace.overhead_share"] = overhead / (traced_s - overhead) if traced_s > overhead else 0.0
    return v


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "imperio_patitas_etl_spark")):
        print(
            "perfbench: imperio_patitas_etl_spark/ is missing; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, "perfbench", ".work")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # Python workers import the package from any cwd; temporary files stay
    # inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no JVM performance-counter file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    tempfile.tempdir = None
    # the JVM and its log output inherit fd 1: point it at stderr, and keep
    # the real stdout for the result
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        result, info = measure(args, cpus, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    line = "perfbench: " + " ".join(f"{k}={v}" for k, v in info.items())
    os.write(real_stdout, (line + "\n" + json.dumps(result) + "\n").encode())
    os.close(real_stdout)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
