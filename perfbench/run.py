"""Repo benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload median --seed 1 --seconds 15 --trace 0

A run generates its tables from a fixed data seed (perfbench/datagen.py),
sets the engine up ``SETUP_REPS`` times (get_spark, register_all,
register_temp_views; the reported ``setup_s`` is the median), makes one
cold pass over the workload's calls and then warm passes until
``--seconds`` have gone by and at least ``MIN_WARM_PASSES`` are done.
Each call builds a fresh query through the engine's public entry points
and collects it; the next call starts only when the previous one has
returned. ``--seed`` fixes the order of calls in
every pass and the reservoir seed of the bounded calls.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace
1`` alternates untraced and traced warm passes and reports the per-layer
metrics from the traced ones (perfbench/layers.py), plus the tracing
overhead as traced over untraced pass time. Every call's output is
checked after the timed passes (DuckDB oracle or rank bound); a call that
raises or fails its check counts in ``failed``.

Each run works in a fresh ``.perfbench/run-*`` directory (tables,
TMPDIR, SPARK_LOCAL_DIRS, warehouse, JVM temp dir) that is deleted at the
end, and leaves one JSON record in ``.perfbench/records/`` (and, traced,
a JSONL span file in ``.perfbench/traces/``). The last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")
DATA_SEED = 42
DEFAULT_SCALE = 0.01
SETUP_REPS = 3
# The first warm pass still pays some warm-up; with three or more the
# median pass is robust to it.
MIN_WARM_PASSES = 3
SAMPLE_FIELDS = (
    *("pass", "key", "traced", "latency_s", "rows", "ok", "problems", "rank_error"),
    *("t0", "t1", "t2", "t3"),
)
# Cap on the JVM heap: the engine default (16g) is sized for big hosts and
# lets the heap grow far past what these tables need before a full GC.
JVM_HEAP = "4g"


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(ROOT, "rocana_impala_udfs_spark")
    )


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _hermetic_env(run_dir: str) -> dict:
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "data")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # every JVM, the spark-submit launcher included: temp files in the run
    # dir, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    # Python workers import the engine from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["TZ"] = "UTC"
    time.tzset()
    return dirs


def _loadavg() -> list[float]:
    return list(os.getloadavg())


def _cpu_jiffies() -> list[int]:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10, check=True
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def tail_latency(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer samples."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    idx = n - 11
    return s[idx], 100.0 * (idx + 1) / n


def failed_frac(samples: list[dict]) -> float:
    return sum(1 for s in samples if not s["ok"]) / len(samples)


class Harness:
    """Runs the passes of one workload against a live session."""

    def __init__(self, spark, sf_dir: str, calls, seed: int):
        self.spark = spark
        self.sf_dir = sf_dir
        self.calls = calls
        self.seed = seed
        self.samples: list[dict] = []
        self.passes: list[dict] = []

    def run_call(self, call, pass_no: int, traced: bool) -> dict:
        sc = self.spark.sparkContext
        rec = {"pass": pass_no, "key": call.name, "traced": traced, "rows": 0, "error": None}
        group = f"perfbench-{pass_no}-{call.name}"
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            if traced:
                sc.setJobGroup(group, "build")
            df = call.build(self.spark, self.sf_dir)
            rec["t1"] = time.time()
            if traced:
                sc.setJobGroup(group, "plan")
                df._jdf.queryExecution().executedPlan()
            rec["t2"] = time.time()
            if traced:
                sc.setJobGroup(group, "execute")
            rows = df.collect()
            rec["latency_s"] = time.perf_counter() - p0
            rec["t3"] = time.time()
            rec["rows"] = len(rows)
            # compact form for the post-run check (fewer live objects for GC)
            rec["result"] = pd.DataFrame.from_records([tuple(r) for r in rows], columns=list(df.columns))
        except Exception as exc:  # a failing call is counted, never fatal
            rec["latency_s"] = time.perf_counter() - p0
            rec["t3"] = time.time()
            rec.setdefault("t1", rec["t3"])
            rec.setdefault("t2", rec["t3"])
            rec["error"] = "".join(traceback.format_exception_only(type(exc), exc)).strip()[-2000:]
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        self.samples.append(rec)
        return rec

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        from workloads import pass_order

        start = time.time()
        order = pass_order(len(self.calls), self.seed, pass_no)
        recs = [self.run_call(self.calls[i], pass_no, traced) for i in order]
        info = {
            "pass": pass_no,
            "traced": traced,
            # the client submits each call as soon as the previous returns;
            # the harness's own bookkeeping between calls is not counted
            "wall_s": sum(r["latency_s"] for r in recs),
            "start": start,
            "end": time.time(),
            "calls": recs,
        }
        self.passes.append(info)
        return info


def _check_samples(samples: list[dict], calls, sf_dir: str) -> None:
    """Set ``ok``/``problems`` on every sample: exact calls against the
    key's DuckDB oracle, bounded calls by the rank bound (their largest
    rank error goes in ``rank_error``)."""
    import duckdb
    import numpy as np

    from rocana_impala_udfs_spark.sources.io import TABLES
    from workloads import bounded_problems, rank_error

    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
    )
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)
    import __spark_entry__

    oracle_sql = __spark_entry__.oracle_sql()
    by_name = {c.name: c for c in calls}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    expected: dict = {}
    exact_values = None
    for s in samples:
        if s["error"] is not None:
            s["ok"], s["problems"] = False, [s["error"]]
            continue
        got = s.pop("result")
        call = by_name[s["key"]]
        if call.oracle is None:
            if exact_values is None:
                li = con.execute(
                    "SELECT l_returnflag, l_extendedprice FROM lineitem WHERE l_extendedprice IS NOT NULL"
                ).df()
                by_flag = li.groupby("l_returnflag")["l_extendedprice"]
                exact_values = {g: np.sort(v.to_numpy()) for g, v in by_flag}
            rows = list(got.itertuples(index=False, name=None))
            problems = bounded_problems(rows, exact_values)
            errs = [rank_error(exact_values[g], v) for g, v in rows if g in exact_values and v == v]
            s["rank_error"] = max((e for e in errs if e is not None), default=None)
        else:
            if call.oracle not in expected:
                expected[call.oracle] = con.execute(oracle_sql[call.oracle]).df()
            problems, _near = cc.compare(got, expected[call.oracle])
        s["ok"], s["problems"] = not problems, problems
    con.close()


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    from layers import descendants

    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid, _py in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _e2e_metrics(setups, passes, rss_bytes) -> tuple[dict, dict]:
    warm = [p for p in passes[1:] if not p["traced"]]
    lat = [c["latency_s"] for p in warm for c in p["calls"]]
    tail, tail_pct = tail_latency(lat)
    metrics = {
        "setup_s": statistics.median(
            s["get_spark_s"] + s["register_all_s"] + s["register_temp_views_s"] for s in setups
        ),
        "cold_pass_s": passes[0]["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_s_p50": statistics.median(lat),
        "query_s_tail": tail,
        "python_rss_mb": rss_bytes / 1e6,
    }
    return metrics, {"query_s_tail_percentile": tail_pct, "warm_calls": len(lat), "warm_passes": len(warm)}


def _layer_metrics(setups, passes, status, listener, spans, parents) -> tuple[dict, dict]:
    """Per-layer metrics (medians over traced passes of per-pass totals)
    and each call's median traced latency."""
    import layers as tr

    progress = listener.snapshot()
    traced = [p for p in passes if p["traced"]]
    totals, per_key = [], {}
    for p in traced:
        per_call, trigger_ms = [], []
        for c in p["calls"]:
            m, trig, children = tr.call_layers(c, status, progress)
            per_call.append(m)
            trigger_ms.extend(trig)
            per_key.setdefault(c["key"], []).append(c["latency_s"])
            tr.attach_children(spans, parents[id(c)], children)
        totals.append(tr.pass_totals(per_call, trigger_ms))
    out = {k: statistics.median(t[k] for t in totals) for k in totals[0]}
    out["session.get_spark_s"] = statistics.median(s["get_spark_s"] for s in setups)
    out["register.register_all_s"] = statistics.median(s["register_all_s"] for s in setups)
    out["sources.register_temp_views_s"] = statistics.median(s["register_temp_views_s"] for s in setups)
    untraced = [p["wall_s"] for p in passes[1:] if not p["traced"]]
    out["trace.overhead"] = statistics.median(p["wall_s"] for p in traced) / statistics.median(untraced)
    return out, {f"call.{k}.s": statistics.median(v) for k, v in per_key.items()}


def _emit_spans(spans, workload, run_start, run_end, setups, passes) -> dict:
    """Workload -> setup / pass -> call -> build/plan/execute spans;
    returns {id(call record): {phase: span id}} for attaching layer
    children."""
    root = spans.add(workload, "workload", run_start, run_end, None)
    for i, s in enumerate(setups):
        t = s["start"]
        steps = ("get_spark_s", "register_all_s", "register_temp_views_s")
        sid = spans.add(f"setup {i}", "setup", t, t + sum(s[k] for k in steps), root)
        for k in steps:
            spans.add(k[:-2], "setup_step", t, t + s[k], sid)
            t += s[k]
    parents = {}
    for p in passes:
        pid = spans.add(f"pass {p['pass']}", "pass", p["start"], p["end"], root, {"traced": p["traced"]})
        for c in p["calls"]:
            attrs = {"rows": c["rows"], "ok": c.get("ok"), "error": c["error"]}
            cid = spans.add(c["key"], "call", c["t0"], c["t3"], pid, attrs)
            parents[id(c)] = {
                "call": cid,
                "build": spans.add("build", "build", c["t0"], c["t1"], cid),
                "plan": spans.add("plan", "plan", c["t1"], c["t2"], cid),
                "execute": spans.add("execute", "execute", c["t2"], c["t3"], cid),
                "bounds": (c["t0"], c["t1"], c["t2"], c["t3"]),
            }
    return parents


def run(args) -> tuple[dict, dict]:
    run_dir = os.path.join(STATE_DIR, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    dirs = _hermetic_env(run_dir)
    try:
        return _run(args, dirs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, dirs) -> tuple[dict, dict]:
    import datagen

    specs = _metric_specs()
    load_before = _loadavg()
    cpu_before = _cpu_jiffies()
    run_start = time.time()
    sf_dir = datagen.generate(dirs["data"], args.scale, DATA_SEED)

    import pyarrow
    import pyspark

    import layers as tr
    import workloads
    from rocana_impala_udfs_spark import get_spark, register_all
    from rocana_impala_udfs_spark.sources.io import register_temp_views

    conf = {"spark.sql.warehouse.dir": dirs["warehouse"]}
    rss = tr.RssSampler()
    rss.start()
    spark = None
    try:
        setups = []
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            start = time.time()
            a = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=conf)
            b = time.perf_counter()
            register_all(spark)
            c = time.perf_counter()
            register_temp_views(spark, sf_dir)
            d = time.perf_counter()
            setups.append(
                {"start": start, "get_spark_s": b - a, "register_all_s": c - b, "register_temp_views_s": d - c}
            )
        spark.sparkContext.setLogLevel("ERROR")

        calls = workloads.calls(args.workload, args.seed)
        spans = tr.SpanWriter(f"{args.workload}-{args.seed}-{int(run_start)}")
        h = Harness(spark, sf_dir, calls, args.seed)
        listener = None
        h.run_pass(0, traced=False)
        if args.trace:
            listener = tr.ProgressListener()
            spark.streams.addListener(listener)
        warm_start = time.perf_counter()
        pass_no = 1
        while True:
            h.run_pass(pass_no, traced=bool(args.trace) and pass_no % 2 == 0)
            untraced = sum(not p["traced"] for p in h.passes[1:])
            traced = len(h.passes) - 1 - untraced
            if (
                time.perf_counter() - warm_start >= args.seconds
                and untraced >= (1 if args.trace else MIN_WARM_PASSES)
                and (traced >= 1 or not args.trace)
            ):
                break
            pass_no += 1
        rss_bytes = rss.stop()
        status = None
        if args.trace:
            tr.wait_quiet(listener)
            status = tr.harvest(spark)
        java = spark._jvm.System.getProperty("java.version")
    finally:
        rss.stop()
        if spark is not None:
            _stop_spark(spark)

    _check_samples(h.samples, calls, sf_dir)
    run_end = time.time()
    e2e, e2e_info = _e2e_metrics(setups, h.passes, rss_bytes)
    metrics_all = dict(e2e)
    call_s = {}
    if args.trace:
        parents = _emit_spans(spans, args.workload, run_start, run_end, setups, h.passes)
        layers, call_s = _layer_metrics(setups, h.passes, status, listener, spans, parents)
        layers["check.failed_frac"] = failed_frac(h.samples)
        metrics_all.update(layers)
        wanted = specs["per_layer"]
    else:
        wanted = specs["end_to_end"]
    missing = [k for k in wanted if k not in metrics_all]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    attempted = len(h.samples)
    failed = sum(1 for s in h.samples if not s["ok"])
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics_all[k]), "unit": wanted[k]} for k in wanted},
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "data_seed": DATA_SEED,
        "git_commit": _git_commit(),
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "versions": {
            "python": sys.version.split()[0],
            "spark": pyspark.__version__,
            "java": java,
            "pyarrow": pyarrow.__version__,
        },
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "cpu_steal_frac": _steal_frac(cpu_before, _cpu_jiffies()),
        "start": run_start,
        "end": run_end,
        "passes": len(h.passes),
        "setups": setups,
        "failed_frac": failed_frac(h.samples),
        "bounded_rank_error_max": max(
            (s["rank_error"] for s in h.samples if s.get("rank_error") is not None), default=None
        ),
        "layer_effects": tr.EFFECTS,
        **e2e_info,
        "metrics": {
            k: {"value": v, "unit": specs["end_to_end"].get(k) or specs["per_layer"].get(k)}
            for k, v in metrics_all.items()
        },
        "call_s": call_s,
        "samples": [
            {k: s.get(k) for k in SAMPLE_FIELDS}
            for s in h.samples
        ],
    }
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(run_start))
    base = f"{stamp}-{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    os.makedirs(os.path.join(STATE_DIR, "records"), exist_ok=True)
    record["record_path"] = os.path.join(".perfbench", "records", base + ".json")
    if args.trace:
        os.makedirs(os.path.join(STATE_DIR, "traces"), exist_ok=True)
        record["trace_path"] = os.path.join(".perfbench", "traces", base + ".jsonl")
        spans.write(os.path.join(ROOT, record["trace_path"]))
    with open(os.path.join(ROOT, record["record_path"]), "w") as f:
        json.dump(record, f, indent=1, default=str)
    return result, record


def _print_table(record: dict) -> None:
    for name, m in sorted(record["metrics"].items()):
        print(f"{name:<44} {m['value']:>16.6g} {m['unit']}")
    for name, v in sorted(record["call_s"].items()):
        print(f"{name:<44} {v:>16.6g} s")
    print(
        f"# {record['warm_passes']} warm passes, {record['warm_calls']} warm calls, "
        f"query_s_tail = p{record['query_s_tail_percentile']:.1f}, "
        f"failed_frac = {record['failed_frac']:.4f}, steal = {record['cpu_steal_frac']:.3f}, "
        f"record {record['record_path']}"
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=DEFAULT_SCALE, help="table scale factor (lineitem = 6M x scale)"
    )
    args = ap.parse_args(argv)
    if not _engine_present():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        known = ", ".join(workloads.WORKLOADS)
        print(f"perfbench: unknown workload {args.workload!r}; choose from {known}", file=sys.stderr)
        return 2
    result, record = run(args)
    _print_table(record)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
