#!/usr/bin/env python
"""Capture .explain("formatted") for headline queries into a round's
plans directory.

Usage: python tools/capture_plans.py <outdir> before|after [query ...]

With no query names, captures bench.py's HEADLINE suite. Writes
<outdir>/<query>_<tag>.txt (e.g. outdir plans/r13) and prints a
one-line plan-shape summary (Exchange count, join strategies, Python
eval nodes) per query so before/after diffs are auditable (optimization
guide §1 / §7.2).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from pyspark.sql import SparkSession

import smart_water_management_spark as swm
from bench import HEADLINE

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def summarize(plan: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", plan))
    n_reuse = len(re.findall(r"ReusedExchange", plan))
    joins = sorted(set(re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)", plan)))
    pyeval = sorted(set(re.findall(
        r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
        r"FlatMapGroupsInPandas)", plan)))
    n_scan = len(re.findall(r"Scan parquet", plan))
    n_agg = len(re.findall(r"HashAggregate", plan))
    n_sort = len(re.findall(r"\+- Sort |^Sort ", plan, re.M))
    return (f"Exchange={n_ex} Reused={n_reuse} Scans={n_scan} "
            f"HashAgg={n_agg} Sort={n_sort} joins={joins} py={pyeval}")


def main() -> None:
    outdir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or HEADLINE
    os.makedirs(outdir, exist_ok=True)
    spark = (
        SparkSession.builder.appName("capture-plans")
        .master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
        .config("spark.sql.shuffle.partitions",
                str(max(8, int(os.environ["SPARK_GRAFT_CPUS"]))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = swm.queries()
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR capturing plan: {e!r}\n"
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {summarize(plan)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
