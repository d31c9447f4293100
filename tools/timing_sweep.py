#!/usr/bin/env python
"""Registry-wide per-query timing sweep (optimization guide §1.1).

Times EVERY natural (non-alias) registered query at $SPARK_GRAFT_SF_DIR
with the noop sink (guide §1.4 — computes every column, no sink cost),
one warm-up-free pass by default (pass --passes 2 for min-of-2), and
writes a sorted JSON report to <outdir>/sweep_<tag>.json (e.g. outdir
plans/r13).

This finds the slow tail the headline bench cannot see: the driver's
verify replays all ~520 declared queries, so a handful of 2-second
stragglers cost more wall clock than any headline query.

Usage: python tools/timing_sweep.py <outdir> <tag> [--passes N] [--names a,b,c]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from pyspark.sql import SparkSession

import smart_water_management_spark as swm
from smart_water_management_spark.registry import _REGISTRY

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    outdir = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "sweep"
    passes = 1
    only = None
    args = sys.argv[3:]
    while args:
        a = args.pop(0)
        if a == "--passes":
            passes = int(args.pop(0))
        elif a == "--names":
            only = set(args.pop(0).split(","))
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("timing_sweep")
        .config("spark.sql.shuffle.partitions", str(max(8, int(cpus))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()  # warm JVM

    names = [
        n for n, s in sorted(_REGISTRY.items())
        if s.alias_of is None and (only is None or n in only)
    ]
    out: dict[str, float] = {}
    errs: dict[str, str] = {}
    t_start = time.monotonic()
    for i, n in enumerate(names):
        spec = _REGISTRY[n]
        spark.sparkContext.setJobDescription(f"sweep:{n}")
        best = float("inf")
        try:
            for _ in range(passes):
                t0 = time.monotonic()
                df = spec.fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.monotonic() - t0)
            out[n] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 - report, keep sweeping
            errs[n] = f"{type(exc).__name__}: {exc}"[:200]
        if (i + 1) % 50 == 0:
            print(
                f"[{i + 1}/{len(names)}] {time.monotonic() - t_start:.0f}s",
                flush=True,
            )
    spark.sparkContext.setJobDescription(None)

    report = {
        "tag": tag,
        "sf_dir": SF_DIR,
        "passes": passes,
        "total_wall": round(time.monotonic() - t_start, 1),
        "n_queries": len(out),
        "errors": errs,
        "slowest": dict(sorted(out.items(), key=lambda kv: -kv[1])[:40]),
        "times": out,
    }
    os.makedirs(outdir, exist_ok=True)
    path = os.path.join(outdir, f"sweep_{tag}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {path}; total {report['total_wall']}s over {len(out)} queries")
    for k, v in list(report["slowest"].items())[:25]:
        print(f"  {k:40s} {v}")
    if errs:
        print("ERRORS:", errs)
    spark.stop()


if __name__ == "__main__":
    main()
