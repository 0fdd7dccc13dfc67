"""Per-layer measurement, taken from outside the engine.

Sources, all read after the timed passes or off the timed thread:

- Spark's application status store (jobs and stages, with their task
  metrics) and the SQL status store (per-operator SQL metrics, including
  the Python-worker ones). Both are kept with ``spark.ui.enabled=false``.
- A Python ``StreamingQueryListener`` for trigger progress.
- The harness's own timers around each call's build, plan and execute.

Everything is attributed to calls by time: calls run one at a time, so a
job, stage, SQL execution or trigger that started inside a call's interval
belongs to that call. Spans go out as JSONL: workload -> pass -> call ->
build / plan / execute, with jobs, stages and triggers as children.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

# Which end-to-end metric each layer's metrics should move, on which
# workload -- written down before measuring, so a change to one layer can
# be checked against it. Written into every run record.
EFFECTS = [
    {
        "layer": "session / register / sources (set-up)",
        "metrics": ["session.get_spark_s", "register.register_all_s", "sources.register_temp_views_s"],
        "moves": {"setup_s": ["median", "tpch"]},
    },
    {
        "layer": "sources (scan)",
        "metrics": ["sources.scan_s", "sources.bytes_read", "sources.rows_read"],
        "moves": {"query_s_p50": ["tpch", "median"]},
    },
    {
        "layer": "plans.* (query-building functions) and Catalyst planning",
        "metrics": [
            "plans.build_s",
            "plans.build_jobs",
            "plans.build_exec_s",
            "catalyst.plan_s",
            "plans.execute_s",
            "call.<key>.s",
        ],
        "moves": {"query_s_p50": ["tpch", "median"]},
    },
    {
        "layer": "exec (Spark stages under the session conf)",
        "metrics": [
            "exec.run_s",
            "exec.cpu_s",
            "exec.cpu_util",
            "exec.gc_s",
            "exec.tasks",
            "exec.stages",
            "exec.failed_tasks",
            "exec.sched_wait_s",
            "exec.peak_execution_memory_bytes",
        ],
        "moves": {"query_s_p50": ["median", "tpch"], "pass_s": ["median", "tpch"]},
    },
    {
        "layer": "shuffle",
        "metrics": [
            "shuffle.write_bytes",
            "shuffle.read_bytes",
            "shuffle.write_time_s",
            "shuffle.spill_bytes",
            "shuffle.bytes_per_input_row",
        ],
        "moves": {"pass_s": ["median", "tpch"]},
        "note": "bounded calls: state bytes <= partitions x groups x k samples",
    },
    {
        "layer": "python (functions/*, operators/reservoir)",
        "metrics": [
            "python.run_s",
            "python.start_s",
            "python.init_s",
            "python.sent_bytes",
            "python.returned_bytes",
        ],
        "moves": {"query_s_p50": ["median"], "cold_pass_s": ["median"], "python_rss_mb": ["median"]},
        "note": "zero on tpch",
    },
    {
        "layer": "streaming (replay, state store, checkpoints)",
        "metrics": [
            "streaming.triggers",
            "streaming.trigger_ms_p50",
            "streaming.add_batch_ms",
            "streaming.wal_commit_ms",
            "streaming.state_commit_ms",
            "streaming.state_update_ms",
            "streaming.state_rows",
            "streaming.state_memory_bytes",
            "streaming.startup_s",
        ],
        "moves": {"pass_s": ["median"], "cold_pass_s": ["median"]},
        "note": "one streaming call (stream_daily_event_stats) in median; zero on tpch",
    },
    {
        "layer": "collect",
        "metrics": ["collect.result_rows", "collect.tail_s"],
        "moves": {"query_s_p50": ["median"]},
        "note": "window_sliding_median_price returns a row per lineitem of its window",
    },
]

# SQL metric name -> (layer metric, kind)
SQL_METRICS = {
    "scan time": ("sources.scan_s", "time"),
    "time to run Python workers": ("python.run_s", "time"),
    "time to start Python workers": ("python.start_s", "time"),
    "time to initialize Python workers": ("python.init_s", "time"),
    "data sent to Python workers": ("python.sent_bytes", "size"),
    "data returned from Python workers": ("python.returned_bytes", "size"),
}


def parse_sql_metric(text: str, kind: str) -> float:
    """Value of a formatted SQL metric ("1.9 s", "719.2 KiB", or the
    multi-task form "total (min, med, max ...)\\n1.9 s (...)")."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    if not lines:
        return 0.0
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _METRIC_VALUE.match(line.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if kind == "size":
        return num * _SIZE.get(unit, 1)
    return num * _TIME_S.get(unit, 1e-3)


class RssSampler:
    """Peak resident memory of this Python process plus every Python
    process below it (the engine's Python workers), sampled from /proc.
    The JVM is excluded: its RSS follows GC timing, not the workload."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_bytes

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                self.peak_bytes = max(self.peak_bytes, self.sample())
            except OSError:
                pass
            self._stop.wait(self.interval_s)

    def sample(self) -> int:
        total = 0
        for pid, is_python in [(os.getpid(), True), *descendants(os.getpid())]:
            if not is_python:
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total


def descendants(root: int) -> list[tuple[int, bool]]:
    """(pid, is_python) of every live process below ``root``."""
    parent, is_python = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        comm_end = stat.rfind(b")")
        fields = stat[comm_end + 2 :].split()
        if fields[0] == b"Z":
            continue
        parent[int(d)] = int(fields[1])
        is_python[int(d)] = stat[stat.find(b"(") + 1 : comm_end].startswith(b"python")
    out = []
    for pid in parent:
        p = parent[pid]
        while p in parent and p != root:
            p = parent[p]
        if p == root and pid != root:
            out.append((pid, is_python[pid]))
    return out


class ProgressListener(StreamingQueryListener):
    """Collects the progress of every streaming trigger."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.progress)


def wait_quiet(listener: ProgressListener, quiet_s: float = 0.5, limit_s: float = 10.0) -> None:
    """Wait until the asynchronous listener bus has delivered its events:
    no new event for ``quiet_s`` (bounded by ``limit_s``)."""
    deadline = time.time() + limit_s
    seen = -1
    while time.time() < deadline:
        n = len(listener.snapshot())
        if n == seen:
            return
        seen = n
        time.sleep(quiet_s)


def _iso_ms(ts: str) -> float:
    """Epoch ms of a progress timestamp like 2026-10-17T04:28:46.123Z."""
    from datetime import datetime, timezone

    dt = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc)
    return dt.timestamp() * 1000.0


def harvest(spark) -> dict:
    """Jobs, stages and SQL executions (with metric values) as JSON."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(
                None,
                False,
                False,
                getattr(store, "stageList$default$4")(),
                getattr(store, "stageList$default$5")(),
            )
        )
    )
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = json.loads(mapper.writeValueAsString(sql.executionsList()))
    for e in execs:
        values = json.loads(mapper.writeValueAsString(sql.executionMetrics(e["executionId"])))
        totals: dict = {}
        for m in e.get("metrics", []):
            if m["name"] in SQL_METRICS:
                value = parse_sql_metric(values.get(str(m["accumulatorId"]), ""), SQL_METRICS[m["name"]][1])
                totals[m["name"]] = totals.get(m["name"], 0.0) + value
        e["values"] = totals
        e.pop("metrics", None)
        e.pop("details", None)
        e.pop("physicalPlanDescription", None)
    return {"jobs": jobs, "stages": stages, "executions": execs}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _inside(t_ms, a_s, b_s) -> bool:
    return t_ms is not None and a_s * 1000.0 - 1 <= t_ms <= b_s * 1000.0 + 1


def call_layers(call: dict, status: dict, progress: list) -> tuple[dict, list[float], list[dict]]:
    """Layer metrics of one traced call, its trigger durations (ms) and
    its child spans (jobs, stages, triggers). ``call`` carries the harness
    timers t0..t3 (epoch seconds: build start, plan start, execute start,
    end) and its row count."""
    t0, t1, t2, t3 = call["t0"], call["t1"], call["t2"], call["t3"]
    stages = [
        s
        for s in status["stages"]
        if s.get("status") == "COMPLETE" and _inside(s.get("submissionTime"), t0, t3)
    ]
    jobs = [j for j in status["jobs"] if _inside(j.get("submissionTime"), t0, t3)]
    execs = [e for e in status["executions"] if _inside(e.get("submissionTime"), t0, t3)]
    trig = [p for p in progress if _inside(_iso_ms(p["timestamp"]), t0, t3)]

    build_jobs = [j for j in jobs if _inside(j["submissionTime"], t0, t1)]
    build_iv = [
        (max(j["submissionTime"], t0 * 1000), min(j.get("completionTime") or t1 * 1000, t1 * 1000))
        for j in build_jobs
    ]
    stage_iv = [(s["submissionTime"], s["completionTime"]) for s in stages if s.get("completionTime")]
    run_s = sum(s["executorRunTime"] for s in stages) / 1e3
    cpu_s = sum(s["executorCpuTime"] for s in stages) / 1e9
    rows_read = sum(s["inputRecords"] for s in stages)
    write_bytes = sum(s["shuffleWriteBytes"] for s in stages)
    last_stage_end = max((b for _a, b in stage_iv), default=None)
    m = {
        "plans.build_s": t1 - t0,
        "plans.build_jobs": float(len(build_jobs)),
        "plans.build_exec_s": _union_ms(build_iv) / 1e3,
        "catalyst.plan_s": t2 - t1,
        "plans.execute_s": t3 - t2,
        "exec.run_s": run_s,
        "exec.cpu_s": cpu_s,
        "exec.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "exec.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
        "exec.stages": float(len(stages)),
        "exec.failed_tasks": float(sum(s["numFailedTasks"] for s in stages)),
        "exec.sched_wait_s": max((t3 - t0) - _union_ms(stage_iv) / 1e3, 0.0),
        "exec.peak_execution_memory_bytes": float(max((s["peakExecutionMemory"] for s in stages), default=0)),
        "shuffle.write_bytes": float(write_bytes),
        "shuffle.read_bytes": float(sum(s["shuffleReadBytes"] for s in stages)),
        "shuffle.write_time_s": sum(s["shuffleWriteTime"] for s in stages) / 1e9,
        "shuffle.spill_bytes": float(sum(s["diskBytesSpilled"] for s in stages)),
        "sources.bytes_read": float(sum(s["inputBytes"] for s in stages)),
        "sources.rows_read": float(rows_read),
        "collect.result_rows": float(call["rows"]),
        "collect.tail_s": max(t3 - last_stage_end / 1e3, 0.0) if last_stage_end else t3 - t2,
        "streaming.triggers": float(len(trig)),
        "streaming.add_batch_ms": float(sum(p["durationMs"].get("addBatch", 0) for p in trig)),
        "streaming.wal_commit_ms": float(sum(p["durationMs"].get("walCommit", 0) for p in trig)),
        "streaming.state_commit_ms": float(
            sum(op.get("commitTimeMs", 0) for p in trig for op in p.get("stateOperators", []))
        ),
        "streaming.state_update_ms": float(
            sum(op.get("allUpdatesTimeMs", 0) for p in trig for op in p.get("stateOperators", []))
        ),
        # call start to first trigger: replay staging and query start-up
        "streaming.startup_s": min(_iso_ms(p["timestamp"]) for p in trig) / 1e3 - t0 if trig else 0.0,
    }
    # the final trigger of each query holds its whole state
    last_by_query: dict = {}
    for p in trig:
        last_by_query[p["id"]] = p
    m["streaming.state_rows"] = float(
        sum(op.get("numRowsTotal", 0) for p in last_by_query.values() for op in p.get("stateOperators", []))
    )
    m["streaming.state_memory_bytes"] = float(
        sum(op.get("memoryUsedBytes", 0) for p in last_by_query.values() for op in p.get("stateOperators", []))
    )
    for name, (metric, _kind) in SQL_METRICS.items():
        m[metric] = sum(e["values"].get(name, 0.0) for e in execs)
    trigger_ms = [float(p["durationMs"].get("triggerExecution", 0)) for p in trig]

    children = []
    for j in jobs:
        children.append(
            {
                "name": f"job {j['jobId']}",
                "kind": "job",
                "ref": j["jobId"],
                "start": j["submissionTime"] / 1e3,
                "end": (j.get("completionTime") or t3 * 1e3) / 1e3,
                "attrs": {"group": j.get("jobGroup"), "stages": j.get("stageIds"), "status": j.get("status")},
            }
        )
    for s in stages:
        children.append(
            {
                "name": f"stage {s['stageId']}.{s['attemptId']}",
                "kind": "stage",
                "ref": s["stageId"],
                "start": s["submissionTime"] / 1e3,
                "end": (s.get("completionTime") or t3 * 1e3) / 1e3,
                "attrs": {
                    k: s[k]
                    for k in (
                        "numTasks",
                        "executorRunTime",
                        "executorCpuTime",
                        "inputBytes",
                        "shuffleReadBytes",
                        "shuffleWriteBytes",
                        "diskBytesSpilled",
                    )
                },
            }
        )
    for p in trig:
        start = _iso_ms(p["timestamp"]) / 1e3
        children.append(
            {
                "name": f"trigger {p['batchId']}",
                "kind": "trigger",
                "start": start,
                "end": start + p["durationMs"].get("triggerExecution", 0) / 1e3,
                "attrs": {
                    "query": p["id"],
                    "durationMs": p["durationMs"],
                    "numInputRows": p.get("numInputRows"),
                },
            }
        )
    return m, trigger_ms, children


def pass_totals(per_call: list[dict], trigger_ms: list[float]) -> dict:
    """Sum a pass's per-call layer metrics; ratios from the sums."""
    out: dict = {}
    for m in per_call:
        for k, v in m.items():
            if k == "exec.peak_execution_memory_bytes":
                out[k] = max(out.get(k, 0.0), v)
            else:
                out[k] = out.get(k, 0.0) + v
    out["exec.cpu_util"] = out["exec.cpu_s"] / out["exec.run_s"] if out.get("exec.run_s") else 0.0
    rows = out.get("sources.rows_read", 0.0)
    out["shuffle.bytes_per_input_row"] = out.get("shuffle.write_bytes", 0.0) / rows if rows else 0.0
    out["streaming.trigger_ms_p50"] = statistics.median(trigger_ms) if trigger_ms else 0.0
    return out


class SpanWriter:
    """Spans kept in memory and written as JSONL when the run ends."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []

    def add(
        self, name: str, kind: str, start: float, end: float, parent: int | None, attrs: dict | None = None
    ) -> int:
        sid = len(self.spans) + 1
        self.spans.append(
            {
                "trace": self.trace_id,
                "id": sid,
                "parent": parent,
                "name": name,
                "kind": kind,
                "start": start,
                "end": end,
                "attrs": attrs or {},
            }
        )
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def attach_children(spans: SpanWriter, parent: dict, children: list[dict]) -> None:
    """Add a call's job, stage and trigger spans under the phase (build,
    plan, execute) in which each started; stages go under their job."""
    t0, t1, t2, t3 = parent["bounds"]

    def phase(start: float) -> int:
        if start < t1:
            return parent["build"]
        return parent["plan"] if start < t2 else parent["execute"]

    job_of_stage = {}
    for ch in children:
        if ch["kind"] == "job":
            jid = spans.add(ch["name"], "job", ch["start"], ch["end"], phase(ch["start"]), ch["attrs"])
            for st in ch["attrs"].get("stages") or []:
                job_of_stage[st] = jid
    for ch in children:
        if ch["kind"] == "stage":
            parent_id = job_of_stage.get(ch["ref"], phase(ch["start"]))
            spans.add(ch["name"], "stage", ch["start"], ch["end"], parent_id, ch["attrs"])
        elif ch["kind"] == "trigger":
            spans.add(ch["name"], "trigger", ch["start"], ch["end"], phase(ch["start"]), ch["attrs"])
