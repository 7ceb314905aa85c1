"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 20 --trace 0

Run it from the repository root.  One client thread drives the engine in
a closed loop (one op in flight) on ``local[N]``, N being the cores this
process may use.  Every input is generated from ``--seed`` under a
scratch directory of the run, ``.perfbench_work/``, which also holds the
Hive warehouse, the Derby metastore and Spark's local directories; it is
removed when the run ends.

Standard output ends with two JSON lines: the run's detail (cores, seed,
host steal and load, every metric with its unit and sample count, the
workload's own metrics and, with ``--trace 1``, the per-function trace),
then the result: ``correct``, ``attempted``, ``failed`` and ``metrics``,
the end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``.  End-to-end numbers come only from untraced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: input sizes; ``smoke`` is the self-test's
SIZES = {
    "full": {"rows_per_month": 20_000, "users": 1_000, "sf": 0.01, "stream_rows": 2_000},
    "smoke": {"rows_per_month": 2_000, "users": 200, "sf": 0.001, "stream_rows": 200},
}

#: (name, unit) of the end-to-end metrics every workload reports
END_TO_END = (
    ("setup_s", "s"),
    ("cpu_s_per_op", "s"),
    ("stored_bytes_per_input_byte", "ratio"),
)
#: end-to-end metrics reported in the detail line only.  A run holds few
#: ops (three month loads, or one pass over eleven different queries),
#: and on a shared 4-core host the wall-clock ones follow the host's CPU
#: steal: their spread over ten seeds reached 0.27-0.39 (throughput),
#: 0.23 (median latency) and 0.46 (heap), wider than any bound a gate
#: can use
DETAIL_ONLY = (
    ("ops_per_s", "1/s"),
    ("rows_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("retained_heap_mb", "MB"),
)

#: (name, unit) of the per-layer metrics every workload reports when traced
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("session.warmup_s", "s"),
    ("pipelines.load_months.wall_s", "s"),
    ("pipelines.load_months.jobs", "count"),
    ("pipelines.load_months.shuffle_write_bytes", "B"),
    ("pipelines.load_months.output_bytes", "B"),
    ("catalog.read_table.build_s", "s"),
    ("catalog.extract_sql.build_s", "s"),
    ("catalog.table_files", "count"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.driver_idle_s", "s"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.executor_busy_frac", "ratio"),
    ("trace.unattributed_jobs", "count"),
    ("trace.overhead_frac", "ratio"),
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    return p.parse_args(argv)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, samples beyond)``.  Below twenty samples that
    percentile is not above the median, and the maximum is reported
    instead, with no samples beyond it."""
    xs = sorted(latencies)
    k = len(xs) - 10
    if 2 * k < len(xs):
        return xs[-1], 100.0, 0
    return xs[k - 1], 100.0 * k / len(xs), len(xs) - k


def isolate(work: str) -> dict:
    """Point every directory Spark, Hive, Derby and Python write to into
    ``work``, and put the repository root on the Python workers' path
    (they import ``sparkgraft`` by name)."""
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "warehouse", "hive")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM, the launcher spark-submit starts first included: temp
    # files under the run, and no /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    return {
        "warehouse": dirs["warehouse"],
        "conf": {
            "spark.local.dir": dirs["local"],
            "spark.driver.extraJavaOptions": f"-Dderby.stream.error.file={work}/derby.log",
            "spark.hadoop.hive.exec.scratchdir": os.path.join(dirs["hive"], "scratch"),
            "spark.hadoop.hive.exec.local.scratchdir": os.path.join(dirs["hive"], "local"),
            "spark.hadoop.hive.downloaded.resources.dir": os.path.join(dirs["hive"], "res"),
            "spark.driver.memory": "3g",
        },
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and every process under it (the Python daemon and workers) ended."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    kids = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in kids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS, Ctx
    from sparkgraft.session import get_spark

    wl = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    iso = isolate(work)
    ctx = Ctx(None, None, work, args.seed, random.Random(args.seed), SIZES[args.size])

    t0 = time.perf_counter()
    inputs = wl.generate(ctx)
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        hive=True,
        warehouse_dir=iso["warehouse"],
        extra_conf=iso["conf"],
    )
    get_spark_s = time.perf_counter() - t0
    try:
        tracer = tr.Tracer(spark, wl.name, bool(args.trace))
        ctx.spark, ctx.tracer = spark, tracer

        tracer.begin("setup")
        cycles = []
        for cycle in range(wl.setup_cycles):
            t0 = time.perf_counter()
            wl.setup(ctx, cycle)
            cycles.append(time.perf_counter() - t0)
        tracer.begin("warmup")
        t0 = time.perf_counter()
        wl.warmup(ctx)
        warmup_s = time.perf_counter() - t0

        tracer.begin("timed")
        host0, cpu0 = tr.host_snapshot(), tr.cpu_tree_seconds()
        t0 = time.perf_counter()
        results = wl.run(ctx, args.seconds)
        wall = time.perf_counter() - t0
        cpu1, host1 = tr.cpu_tree_seconds(), tr.host_snapshot()
        heap_mb = tr.retained_heap_mb(spark)

        tracer.begin("check")
        t0 = time.perf_counter()
        wl.check(ctx, results)
        check_s = time.perf_counter() - t0
        extra = wl.extra_metrics(ctx, results)

        ok = [r for r in results if r.error is None]
        lat = [r.seconds for r in ok] or [0.0]
        tail_s, tail_pct, beyond = tail(lat)
        e2e = {
            "setup_s": (get_spark_s + statistics.median(cycles) + warmup_s, len(cycles)),
            "ops_per_s": (len(ok) / wall, len(ok)),
            "op_p50_s": (statistics.median(lat), len(ok)),
            "op_tail_s": (tail_s, len(ok)),
            "rows_per_s": (sum(r.rows for r in ok) / wall, len(ok)),
            "cpu_s_per_op": ((cpu1 - cpu0) / len(results), len(results)),
            "retained_heap_mb": (heap_mb, 1),
            "stored_bytes_per_input_byte": extra.pop("stored_bytes_per_input_byte")[::2],
        }
        units = dict(END_TO_END + DETAIL_ONLY)
        failed = len(results) - len(ok)
        detail = {
            "workload": wl.name,
            "seed": args.seed,
            "cores": cores,
            "seconds": args.seconds,
            "size": args.size,
            "inputs": inputs,
            "gen_s": gen_s,
            "get_spark_s": get_spark_s,
            "setup_cycles_s": cycles,
            "warmup_s": warmup_s,
            "check_s": check_s,
            "host": {
                "steal_jiffies": host1["steal_jiffies"] - host0["steal_jiffies"],
                "loadavg_1m": [host0["loadavg_1m"], host1["loadavg_1m"]],
            },
            "failed_op_frac": failed / len(results),
            "errors": sorted({f"{r.name}: {r.error}" for r in results if r.error})[:10],
            "op_tail": {"percentile": tail_pct, "samples_beyond": beyond},
            "op_p50_s_by_name": {
                n: statistics.median(r.seconds for r in ok if r.name == n)
                for n in sorted({r.name for r in ok})
            },
            "checks": wl.checks_run,
            "metrics": {
                k: {"value": v, "unit": units[k], "n": n} for k, (v, n) in e2e.items()
            },
            "workload_metrics": {
                k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in extra.items()
            },
        }
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END}

        if args.trace:
            stats, unattributed, jobs = tr.collect(tracer)
            fns = tr.by_function(tracer, stats)
            layer = {
                "session.get_spark_s": get_spark_s,
                "session.warmup_s": warmup_s,
                "catalog.table_files": wl.table_files,
                "trace.unattributed_jobs": unattributed,
                "trace.overhead_frac": tracer.overhead_s / wall,
                **tr.spark_per_op(tracer, stats, len(results), wall, cores),
            }
            for name, key in (
                ("pipelines.load_months", "wall_s"),
                ("pipelines.load_months", "jobs"),
                ("pipelines.load_months", "shuffle_write_bytes"),
                ("pipelines.load_months", "output_bytes"),
                ("catalog.read_table", "build_s"),
                ("catalog.extract_sql", "build_s"),
            ):
                layer[f"{name}.{key}"] = fns.get(name, {}).get(key, 0.0)
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
            detail["trace"] = {
                "jobs": jobs,
                "spans": len(tracer.spans),
                "functions": fns,
                "streaming": tr.stream_progress(tracer),
            }
            tracer.close()
    finally:
        stop_spark(spark)

    result = {
        "correct": failed == 0 and wl.checks_run > 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import sparkgraft  # noqa: F401 — the engine under test
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
