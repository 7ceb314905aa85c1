#!/usr/bin/env python3
"""Isolated per-lane timing + plan capture (optimization-round workhorse).

Times each named lane with the SAME methodology as bench.py (noop sink,
min of N runs, warm session) but in isolation, and optionally dumps
`.explain("formatted")` to a file per lane.

Usage:
    python tools/lane_bench.py [--sf DIR] [--runs N] [--explain-dir DIR] lane [lane ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("lanes", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--cpus",
        default=os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))),
    )
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="", help="filename suffix for explain dumps, e.g. _before")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.environ.setdefault("SPARK_GRAFT_CPUS", args.cpus)
    from sparkgraft import registry
    from sparkgraft.session import get_spark

    spark = get_spark("sparkgraft-lane-bench", master=f"local[{args.cpus}]")
    qfns = registry.queries()
    spark.read.parquet(f"{args.sf}/region.parquet").count()  # warm-up
    # one histogram sample per Janino compile; a lane whose last sample
    # still compiles recompiles its generated classes whenever it repeats
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    out: dict[str, dict] = {}
    for name in args.lanes:
        if name not in qfns:
            print(f"unknown lane: {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"lane_bench: {name}")
        samples = []
        for i in range(args.runs):
            compiles_before = compiles.getCount()
            t0 = time.perf_counter()
            df = qfns[name](spark, args.sf)
            t_build = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            compiled = compiles.getCount() - compiles_before
            if i == 0 and args.explain_dir:
                os.makedirs(args.explain_dir, exist_ok=True)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(args.explain_dir, f"{name}{args.suffix}.txt"), "w") as fh:
                    fh.write(plan)
        out[name] = {
            "min": min(samples),
            "samples": samples,
            "build_s_last": round(t_build, 3),
            "codegen_compiles": compiled,
        }
        print(
            f"{min(samples):8.3f}  (runs: {samples}, plan-build {t_build:.3f}s, "
            f"compiles {compiled})  {name}",
            flush=True,
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
