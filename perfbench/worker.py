"""One benchmark run in a fresh process, started by ``run.py``.

Builds the session with the engine's ``get_session``, runs the workload's
registered queries from one client in a closed loop (one query at a time,
the next issued once the previous result is at the driver), checks every
result after its timer stops, and writes the run's record as JSON.

Pass 0 is the cold pass over the whole query list; warm passes follow,
each in a seeded order, until ``--seconds`` of warm query time is spent.
With ``--trace 1`` the same loop also records spans, Catalyst phases and
catalog snapshots (see ``tracing.py``); warm calls alternate between that
instrumented path and the plain one, so the run measures its own overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import threading
import time

import check
import workloads

QUERY_TIMEOUT_S = 60


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--base", required=True)
    ap.add_argument("--eventlog", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    # Set-up: package import (fills the registry), session, one tiny action.
    import smart_water_management_spark  # noqa: F401
    from smart_water_management_spark import registry
    from smart_water_management_spark.session import get_session

    spark = get_session("perfbench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.addJobTag("pb-setup")
    spark.range(1000).selectExpr("sum(id)").collect()
    sc.removeJobTag("pb-setup")
    setup_s = time.time() - float(os.environ["PERFBENCH_T0"])

    wl = workloads.get(args.workload)
    specs = {n: registry.get(n) for n in wl.names}
    oracle = check.oracle_hashes(args.base, {n: s.oracle for n, s in specs.items()})
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark)

    records: list[dict] = []
    first_hash: dict[str, list] = {}

    def call(name: str, pass_no: int, instrumented: bool) -> dict:
        seq = len(records) + 1
        tag = f"pb-q{seq}"
        rec = {"name": name, "pass": pass_no, "seq": seq, "instr": instrumented}
        timer = threading.Timer(QUERY_TIMEOUT_S, sc.cancelJobsWithTag, (tag,))
        sc.addJobTag(tag)
        timer.start()
        t0 = time.time()
        c0 = time.perf_counter()
        try:
            df = specs[name].fn(spark, args.data)
            c1 = time.perf_counter()
            if instrumented:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            c2 = time.perf_counter()
            pdf = df.toPandas()
            c3 = time.perf_counter()
        except Exception as e:  # counted in failed, never dropped
            first_line = (str(e).strip().splitlines() or [""])[0][:200]
            rec["error"] = ("" if timer.is_alive() else "timed out: ") + f"{type(e).__name__}: {first_line}"
            return rec
        finally:
            timer.cancel()
            sc.removeJobTag(tag)
        rec.update(t0=t0, wall=c3 - c0, construct=c1 - c0, plan=c2 - c1, action=c3 - c2)
        if instrumented:
            rec["phases"] = tracer.phases(qe)
            tracer.snapshot()
        got = list(check.frame_hash(pdf))
        want = oracle.get(name) or first_hash.setdefault(name, got)
        if got != want:
            rec["error"] = f"result mismatch: {got[1]} rows, expected {want[1]}"
        return rec

    for name in wl.order(args.seed, 0):
        records.append(call(name, 0, tracer is not None))
    # Whole passes only, so every name weighs the same in the warm sample;
    # a traced run makes at least two, so each name runs once each way.
    passes = wl.warm_passes(args.seconds)
    if tracer is not None:
        passes = max(2, passes)
    for pass_no in range(1, passes + 1):
        for i, name in enumerate(wl.order(args.seed, pass_no)):
            records.append(call(name, pass_no, tracer is not None and (i + pass_no) % 2 == 0))

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
    spark.stop()

    cold = [r for r in records if r["pass"] == 0]
    warm = [r for r in records if r["pass"] > 0 and "error" not in r]
    walls = [r["wall"] for r in warm]
    out = {
        "workload": wl.name,
        "seed": args.seed,
        "attempted": len(records),
        "failed": sum("error" in r for r in records),
        "errors": {r["name"]: r["error"] for r in records if "error" in r},
        "warm_samples": len(walls),
        "warm_passes": passes,
        "records": records,
        "metrics": {
            "setup_s": setup_s,
            "cold_pass_s": sum(r.get("wall", 0.0) for r in cold),
            "queries_per_s": len(walls) / sum(walls) if walls else 0.0,
            "latency_p50_s": statistics.median(walls) if walls else 0.0,
        },
    }
    if tracer is not None:
        out["layers"] = tracer.finish(records, args.eventlog, int(os.environ["SPARK_GRAFT_CPUS"]),
                                      os.path.join(os.path.dirname(args.out), "spans.json"))
        out["layers"]["memory.peak_rss_mb"] = peak_rss_mb
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
