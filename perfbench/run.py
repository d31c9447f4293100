"""The engine's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload headline --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from the seed (cached under
``.perfbench/data``), runs one fresh worker process for the workload
(``worker.py``), and prints the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``). The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

Everything the run writes stays under ``.perfbench/`` in the repository
root; the per-run scratch (Spark local dirs, warehouse, streaming stage
dirs, event log) is cleared before and after each run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 160  # the whole run must end within 180 s


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill the worker's process group (its JVM and Python daemons) and wait
    until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) / 1024


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "smart_water_management_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import gen
    import workloads

    wl = workloads.get(args.workload)
    data_root = os.path.join(WORK, "data")
    os.makedirs(data_root, exist_ok=True)
    base = gen.base_tables(data_root, workloads.SF)
    data = gen.landing_tables(data_root, base, args.seed) if wl.landing else base

    scratch = os.path.join(WORK, "run")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp, local, eventlog = (os.path.join(scratch, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, eventlog):
        os.makedirs(d)
    cores = len(os.sched_getaffinity(0))  # as nproc counts them
    env = dict(os.environ)
    env.update(wl.env)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,  # warehouse, streaming stage and checkpoint dirs
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
    })
    if args.trace:
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.dir=file://{eventlog} pyspark-shell")
    out_path = os.path.join(scratch, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", wl.name,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--base", base, "--eventlog", eventlog, "--out", out_path]
    with open(os.path.join(WORK, "worker.log"), "w") as log:
        env["PERFBENCH_T0"] = repr(time.time())  # set-up is timed from here
        proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.DEVNULL, stderr=log,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    if code != 0 or not os.path.exists(out_path):
        print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}; "
              f"see {os.path.relpath(os.path.join(WORK, 'worker.log'), ROOT)}", file=sys.stderr)
        return 1
    with open(out_path) as f:
        res = json.load(f)
    keep = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    shutil.copy(out_path, os.path.join(WORK, f"result-{keep}.json"))
    if args.trace:
        shutil.copy(os.path.join(scratch, "spans.json"), os.path.join(WORK, f"spans-{keep}.json"))
    shutil.rmtree(scratch, ignore_errors=True)

    values = res["layers"] if args.trace else res["metrics"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    print(f"workload={wl.name} seed={args.seed} cores={cores} mem_mb={_mem_total_mb():.0f} "
          f"input_bytes={gen.input_bytes(data)} warm_samples={res['warm_samples']} "
          f"warm_passes={res['warm_passes']}")
    print(f"failed_frac={res['failed'] / res['attempted']:.4f} "
          f"failed_names={','.join(sorted(res['errors'])) or '-'}")
    for name, err in res["errors"].items():
        print(f"  {name}: {err}")
    for name in units:
        print(f"{name} = {values[name]:.6g} {units[name]}")
    correct = res["failed"] == 0
    if args.trace:
        lay = res["layers"]
        correct = correct and lay["trace.untagged_jobs"] == 0 and abs(lay["trace.layer_sum_frac"] - 1) <= 0.10
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
