"""The traced run: spans and per-layer counts, recorded only at the
boundaries where the benchmark calls into the engine.

* ``query`` span per call, with children ``construct`` (the registered
  callable), ``plan`` (Catalyst, forced on the returned frame) and
  ``action`` (``toPandas``).
* Catalyst phase times from ``queryExecution().tracker()``.
* Jobs, stages and tasks from Spark's uncompressed event log. Each job
  carries the tag the benchmark set around its call, and hangs under the
  span of that call it started in; stages hang under their job, tasks under
  their stage. Python-worker metrics are the ``PythonSQLMetrics``
  accumulators of the plan nodes that cross into Python.
* Streaming micro-batches from the ``StreamingQueryListener`` progress
  events the event log records (``durationMs``, ``stateOperators``).
* ``sources.catalog`` state, snapshotted after every instrumented call.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import glob
import json
import re
import statistics

MB = 1024 * 1024
# Plan nodes that cross into Python workers (MapInArrow, MapInPandas,
# ArrowEvalPython, FlatMapGroupsInPandas, ...); stateful operators carry
# the same metric names, unused.
_PY_NODE = re.compile(r"Python|Pandas|Arrow")
_PY_NAMES = {
    "data sent to Python workers": "sent",
    "data returned from Python workers": "received",
    "time to start Python workers": "boot",
    "time to initialize Python workers": "init",
    "time to run Python workers": "run",
    "number of output rows": "rows",
}


class Tracer:
    def __init__(self, spark) -> None:
        from smart_water_management_spark.sources import catalog

        self.spark = spark
        self.catalog = catalog
        self.snaps: list[dict] = []

    def phases(self, qe) -> dict[str, float]:
        summary = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = summary.get(phase)
            out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    def snapshot(self) -> None:
        cat = self.catalog
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.snaps.append({
            "cached_mb": sum(i.memSize() + i.diskSize() for i in infos) / MB,
            "resident": len(cat._TABLE_CACHE),
            "pins": sorted(str(k) for k in cat._PIN_LRU),
            "plans": len(cat._PLAN_CACHE),
        })

    def finish(self, records: list[dict], eventlog: str, cores: int, spans_path: str) -> dict:
        log = _read_eventlog(eventlog)
        spans = _spans(records, log)
        with open(spans_path, "w") as f:
            json.dump(spans, f)
        return _metrics(records, log, spans, self.snaps, cores)


def _read_eventlog(path: str) -> dict:
    """Jobs, stages, tasks, Python accumulators and streaming progress."""
    jobs, stages, tasks, progress = {}, {}, [], []
    py_acc: dict[int, tuple[str, str]] = {}

    def walk_plan(node: dict) -> None:
        metrics = node.get("metrics", [])
        if _PY_NODE.search(node.get("nodeName", "")):
            for m in metrics:
                if m["name"] in _PY_NAMES:
                    py_acc[m["accumulatorId"]] = (_PY_NAMES[m["name"]], m["metricType"])
        for child in node.get("children", []):
            walk_plan(child)

    for fname in sorted(glob.glob(f"{path}/*")):
        with open(fname) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    m = re.search(r"pb-(q\d+|setup)", e.get("Properties", {}).get("spark.job.tags", ""))
                    jobs[e["Job ID"]] = {"tag": m.group(1) if m else None,
                                         "start": e["Submission Time"] / 1e3,
                                         "stages": e["Stage IDs"]}
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stages[info["Stage ID"]] = {
                        "start": info.get("Submission Time", 0) / 1e3,
                        "end": info.get("Completion Time", 0) / 1e3,
                        "acc": {a["ID"]: a.get("Value") for a in info.get("Accumulables", [])},
                    }
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(e)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    walk_plan(e["sparkPlanInfo"])
                elif kind.endswith("QueryProgressEvent"):
                    progress.append(e["progress"])
    # A stage a later job reuses (skipped there) belongs to the first job
    # that ran it.
    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            if sid in stages:
                stage_job.setdefault(sid, jid)
    return {"jobs": jobs, "stages": stages, "stage_job": stage_job, "tasks": tasks,
            "progress": progress, "py_acc": py_acc}


def _spans(records: list[dict], log: dict) -> list[dict]:
    """Span tree per instrumented call: query > construct|plan|action >
    job > stage > task. Times are epoch seconds."""
    spans: list[dict] = []
    by_seq = {}
    for r in records:
        if not r.get("instr") or "wall" not in r:
            continue
        qid = f"q{r['seq']}"
        t = r["t0"]
        spans.append({"id": qid, "parent": None, "layer": "query", "name": r["name"],
                      "start": t, "end": t + r["wall"]})
        for part in ("construct", "plan", "action"):
            spans.append({"id": f"{qid}.{part}", "parent": qid, "layer": part,
                          "start": t, "end": t + r[part]})
            t += r[part]
        by_seq[qid] = spans[-3:]
    traced_jobs = set()
    for jid, job in sorted(log["jobs"].items()):
        phases = by_seq.get(job["tag"])
        if not phases:
            continue
        traced_jobs.add(jid)
        parent = next((p for p in phases if job["start"] < p["end"]), phases[-1])
        spans.append({"id": f"job{jid}", "parent": parent["id"], "layer": "job",
                      "start": job["start"], "end": job.get("end", job["start"])})
    for sid, jid in log["stage_job"].items():
        if jid in traced_jobs:
            st = log["stages"][sid]
            spans.append({"id": f"stage{sid}", "parent": f"job{jid}", "layer": "stage",
                          "start": st["start"], "end": st["end"]})
    for i, t in enumerate(log["tasks"]):
        if log["stage_job"].get(t["Stage ID"]) in traced_jobs:
            info = t["Task Info"]
            spans.append({"id": f"task{i}", "parent": f"stage{t['Stage ID']}", "layer": "task",
                          "start": info["Launch Time"] / 1e3, "end": info["Finish Time"] / 1e3})
    return spans


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        total += max(0.0, e - max(s, end))
        end = max(end, e)
    return total


def _covered(spans: list[dict], roots: set[str]) -> float:
    """Layer self times summed over the span trees under ``roots``. A
    layer's self time is the time its spans cover that no deeper layer's
    spans cover, so summed over the layers of one tree it is the time the
    tree covers: the query's wall, plus any job, stage or task time that
    spills outside it."""
    root: dict[str, str] = {}
    trees: dict[str, list[tuple[float, float]]] = {}
    for s in spans:  # parents precede their children
        root[s["id"]] = root[s["parent"]] if s["parent"] else s["id"]
        if root[s["id"]] in roots:
            trees.setdefault(root[s["id"]], []).append((s["start"], s["end"]))
    return sum(_union_length(tree) for tree in trees.values())


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    values = sorted(values)
    return values[min(len(values) - 1, int(q * len(values)))]


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _per_name_median(records: list[dict]) -> dict[str, float]:
    walls: dict[str, list[float]] = {}
    for r in records:
        walls.setdefault(r["name"], []).append(r["wall"])
    return {k: statistics.median(v) for k, v in walls.items()}


def _metrics(records, log, spans, snaps, cores) -> dict:
    # Layer figures are per instrumented call: the cold pass and the
    # instrumented half of the warm passes. Overhead compares warm calls
    # of the same names made each way.
    traced = [r for r in records if r["instr"] and "wall" in r]
    warm = [r for r in records if r["pass"] > 0 and "wall" in r]
    n = max(1, len(traced))
    tags = {f"q{r['seq']}" for r in traced}
    wall = sum(r["wall"] for r in traced)

    jobs = {j: v for j, v in log["jobs"].items() if v["tag"] in tags}
    stage_ids = {sid for sid, jid in log["stage_job"].items() if jid in jobs}
    eager = sum(1 for s in spans if s["layer"] == "job" and s["parent"].endswith(".construct")
                and s["parent"].split(".")[0] in tags)
    tm = [t for t in log["tasks"] if t["Stage ID"] in stage_ids]

    def task_sum(fn) -> float:
        return sum(fn(t.get("Task Metrics") or {}) for t in tm) / n

    waits = sum(max(0.0, t["Task Info"]["Launch Time"] / 1e3 - log["stages"][t["Stage ID"]]["start"])
                for t in tm)
    py: dict[str, float] = {}
    for sid in stage_ids:
        for acc_id, val in log["stages"][sid]["acc"].items():
            if acc_id in log["py_acc"]:
                key, kind = log["py_acc"][acc_id]
                scale = 1e9 if kind == "nsTiming" else 1e3 if kind == "timing" else 1.0
                py[key] = py.get(key, 0.0) + float(val) / scale / n

    prog = log["progress"]
    dur = [p.get("durationMs", {}) for p in prog]
    state = [p.get("stateOperators", []) for p in prog]
    created = evicted = 0
    seen: set[str] = set()
    prev: set[str] = set()
    for snap in snaps:
        cur = set(snap["pins"])
        created += len(cur - seen)
        evicted += len(prev - cur)
        seen |= cur
        prev = cur
    on = _per_name_median([r for r in warm if r["instr"]])
    off = _per_name_median([r for r in warm if not r["instr"]])
    both = on.keys() & off.keys()
    off_sum = sum(off[k] for k in both)
    run_s = task_sum(lambda m: m.get("Executor Run Time", 0)) / 1e3

    return {
        "registry.construct_s": _median(r["construct"] for r in traced),
        "registry.construct_share": sum(r["construct"] for r in traced) / wall if wall else 0.0,
        "registry.eager_jobs": eager / n,
        "catalyst.analysis_ms": _median(r["phases"]["analysis"] for r in traced),
        "catalyst.optimization_ms": _median(r["phases"]["optimization"] for r in traced),
        "catalyst.planning_ms": _median(r["phases"]["planning"] for r in traced),
        "exec.action_s": _median(r["action"] for r in traced),
        "exec.jobs": len(jobs) / n,
        "exec.stages": len(stage_ids) / n,
        "exec.tasks": len(tm) / n,
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": task_sum(lambda m: m.get("Executor CPU Time", 0)) / 1e9,
        "exec.task_gc_s": task_sum(lambda m: m.get("JVM GC Time", 0)) / 1e3,
        "exec.task_wait_s": waits / n,
        "exec.busy_frac": run_s * n / (wall * cores) if wall else 0.0,
        "exec.shuffle_read_mb": task_sum(lambda m: m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
                                         + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)) / MB,
        "exec.shuffle_write_mb": task_sum(
            lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)) / MB,
        "exec.spill_mb": task_sum(lambda m: m.get("Disk Bytes Spilled", 0)) / MB,
        "exec.input_mb": task_sum(lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0)) / MB,
        "exec.output_mb": task_sum(lambda m: m.get("Output Metrics", {}).get("Bytes Written", 0)) / MB,
        "exec.result_mb": task_sum(lambda m: m.get("Result Size", 0)) / MB,
        "exec.failed_tasks": sum(1 for t in tm if t["Task Info"].get("Failed")),
        "python.run_s": py.get("run", 0.0),
        "python.boot_init_s": py.get("boot", 0.0) + py.get("init", 0.0),
        "python.sent_mb": py.get("sent", 0.0) / MB,
        "python.received_mb": py.get("received", 0.0) / MB,
        "python.rows_out": py.get("rows", 0.0),
        "catalog.cached_mb_peak": max((s["cached_mb"] for s in snaps), default=0.0),
        "catalog.resident_entries": snaps[-1]["resident"] if snaps else 0,
        "catalog.pins_created": created,
        "catalog.pins_evicted": evicted,
        "catalog.plan_cache_entries": snaps[-1]["plans"] if snaps else 0,
        "streaming.batches": len(prog),
        "streaming.input_rows": sum(src.get("numInputRows", 0) for p in prog for src in p.get("sources", [])),
        "streaming.trigger_p50_ms": _pct([d.get("triggerExecution", 0) for d in dur], 0.5),
        "streaming.trigger_p90_ms": _pct([d.get("triggerExecution", 0) for d in dur], 0.9),
        "streaming.add_batch_ms": _pct([d.get("addBatch", 0) for d in dur], 0.5),
        "streaming.query_planning_ms": _pct([d.get("queryPlanning", 0) for d in dur], 0.5),
        "streaming.wal_commit_ms": _pct([d.get("walCommit", 0) for d in dur], 0.5),
        "streaming.commit_offsets_ms": _pct([d.get("commitOffsets", 0) for d in dur], 0.5),
        "streaming.get_batch_ms": _pct([d.get("getBatch", 0) for d in dur], 0.5),
        "streaming.state_rows_peak": max((sum(o.get("numRowsTotal", 0) for o in ops) for ops in state), default=0),
        "streaming.state_mb_peak": max((sum(o.get("memoryUsedBytes", 0) for o in ops) / MB for ops in state),
                                       default=0.0),
        "trace.overhead_frac": sum(on[k] for k in both) / off_sum - 1 if off_sum else 0.0,
        "trace.untagged_jobs": sum(1 for j in log["jobs"].values() if j["tag"] is None),
        "trace.layer_sum_frac": _covered(spans, tags) / wall if wall else 0.0,
    }
