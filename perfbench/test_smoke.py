"""Smoke test of the benchmark itself, on sf0.001-sized tables.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import datagen  # noqa: E402
import run  # noqa: E402
from workloads import BOUNDED_K, Call, bounded_problems  # noqa: E402


def test_bounded_check_rejects_a_median_far_from_rank_p():
    vals = {"A": np.arange(1000.0), "N": np.arange(2000.0)}
    assert bounded_problems([("A", 500.0), ("N", 1010.0)], vals) == []
    # 2/sqrt(200) = 0.141: rank 0.7 is 0.2 away from p = 0.5
    far = bounded_problems([("A", 700.0), ("N", 1000.0)], vals)
    assert len(far) == 1 and "group A" in far[0]
    assert bounded_problems([("A", 500.5), ("N", 1000.0)], vals)  # not a data value
    assert bounded_problems([("A", 500.0)], vals)  # a group is missing
    assert bounded_problems([("A", None), ("N", 1000.0)], vals)
    assert BOUNDED_K == 200


def test_wrong_call_result_counts_in_failed_frac(tmp_path):
    import duckdb

    import __spark_entry__

    sf = datagen.generate(str(tmp_path / "sf"), 0.001, run.DATA_SEED)
    key = "agg_order_sizes"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf}/lineitem.parquet')")
    good = con.execute(__spark_entry__.oracle_sql()[key]).df()
    con.close()
    wrong = good.copy()
    wrong.iloc[0, -1] += 1
    calls = [Call(key, None, key)]
    samples = [
        {"key": key, "error": None, "result": good.copy()},
        {"key": key, "error": None, "result": wrong},
        {"key": key, "error": "boom", "result": None},
    ]
    run._check_samples(samples, calls, sf)
    assert [s["ok"] for s in samples] == [True, False, False]
    assert run.failed_frac(samples) == pytest.approx(2 / 3)


def test_tail_latency_keeps_ten_samples_beyond():
    vals = [float(i) for i in range(1, 41)]
    v, pct = run.tail_latency(vals)
    assert sum(x > v for x in vals) == 10 and pct == 75.0
    assert run.tail_latency([1.0, 2.0]) == (2.0, 100.0)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    args = ["--workload", "median", "--seed", "1", "--seconds", "1", "--trace", "0"]
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert out.returncode != 0
    assert not out.stdout.strip()


def test_one_command_prints_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload",
            "median",
            "--seed",
            "3",
            "--seconds",
            "1",
            "--trace",
            "1",
            "--scale",
            "0.001",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == per_layer
    printed = {}
    for ln in lines[:-1]:
        parts = ln.split()
        if len(parts) == 3 and not ln.startswith("#"):
            printed[parts[0]] = parts[2]
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert printed.get(m["name"]) == m["unit"], m["name"]
