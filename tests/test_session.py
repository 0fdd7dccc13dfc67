"""Tests for the data-volume-driven initial shuffle partitioning
(VERDICT r13 #1: the 100× shuffle-block OOM fix must be the shipped
default, not an env knob).

The calibration anchor is empirical — the r13 sweep's 100× point (2.51 GB
scan input) OOM'd under core-count initial maps and ran clean at 256 —
so the tests pin the FORMULA's fixed points rather than re-running the
100× workload: floor at the core count for bench-SF dirs, ceil(bytes/8MiB)
for scale dirs, the 32768 practical ceiling, the env-override no-op, and
the fact that load_table actually applies it.

r15 (ADVICE r14 #1): sizing is STICKY-MAX per session — Spark reads the
conf at execution time, so a lazily-built big-dir frame must keep its
sizing even if a smaller dir is loaded before it executes. The old
"returns to floor" pin is replaced by the sticky pin plus the explicit
``reset_autosize`` epoch boundary.
"""

from __future__ import annotations

import os

import pytest

from rocana_impala_udfs_spark.session import (
    _DIR_BYTES_MEMO,
    _MAX_INITIAL_PARTITIONS,
    _TARGET_SCAN_BYTES_PER_PARTITION,
    autosize_initial_partitions,
    reset_autosize,
)
from rocana_impala_udfs_spark.sources.io import load_table

CONF = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh_sizing_epoch(spark):
    """Each test gets its own sizing epoch, and the (session-scoped) spark
    fixture leaves this module back at the core-count floor so the fake
    big dirs probed here never slow later test modules."""
    reset_autosize(spark)
    yield
    reset_autosize(spark)
    autosize_initial_partitions(spark, SF_SMOKE)


def _fake_dir(tmp_path, name: str, nbytes: int) -> str:
    """A directory whose apparent size is ``nbytes`` without writing the
    bytes (sparse truncate) — os.path.getsize reports st_size."""
    d = tmp_path / name
    d.mkdir()
    f = d / "table.parquet"
    with open(f, "wb") as fh:
        fh.truncate(nbytes)
    return str(d)


def test_small_dir_floors_at_core_count(spark, tmp_path):
    d = _fake_dir(tmp_path, "small", 1 << 20)  # 1 MiB ≪ 8 MiB target
    n = autosize_initial_partitions(spark, d)
    assert n == spark.sparkContext.defaultParallelism
    assert spark.conf.get(CONF) == str(n)


def test_scale_dir_sizes_from_bytes(spark, tmp_path):
    # the r13 100× fixed point: 2.51 GB -> ceil(2.51e9 / 8 MiB) = 300,
    # comfortably past the empirically-required 256
    d = _fake_dir(tmp_path, "big", 2_510_068_075)
    n = autosize_initial_partitions(spark, d)
    assert n == -(-2_510_068_075 // _TARGET_SCAN_BYTES_PER_PARTITION) == 300
    assert spark.conf.get(CONF) == "300"


def test_sticky_max_within_epoch(spark, tmp_path):
    # ADVICE r14 #1: the conf is read at EXECUTION time — a deferred
    # big-dir frame must never execute under a later small-dir setting,
    # so within an epoch the applied count only ratchets up
    big = _fake_dir(tmp_path, "big2", 5 << 30)
    small = _fake_dir(tmp_path, "small2", 1 << 20)
    n_big = autosize_initial_partitions(spark, big)
    assert n_big > spark.sparkContext.defaultParallelism
    assert autosize_initial_partitions(spark, small) == n_big
    assert spark.conf.get(CONF) == str(n_big)


def test_reset_starts_new_epoch(spark, tmp_path):
    # finer-than-needed initial maps cost +30-40% on shuffle-heavy keys at
    # sf0.1 (r13 measurement) — reset_autosize is the deliberate way back
    # down (the scaling sweeps call it at each SF point boundary)
    big = _fake_dir(tmp_path, "big3", 5 << 30)
    small = _fake_dir(tmp_path, "small3", 1 << 20)
    assert autosize_initial_partitions(spark, big) > spark.sparkContext.defaultParallelism
    reset_autosize(spark)
    n = autosize_initial_partitions(spark, small)
    assert n == spark.sparkContext.defaultParallelism
    assert spark.conf.get(CONF) == str(n)


def test_uniform_reduce_keys_sizes_coarser(spark, tmp_path):
    # VERDICT r14 #2 / SCALING_r14 finding 6: a declared-uniform load uses
    # the 128 MiB target — at the r13/r14 100× fixed point (2.51 GB) that
    # floors at the core count, reproducing the MEASURED-fast coarse
    # regime (275 s / 19 GB vs 415 s / 37.5 GB fine) — while still growing
    # past the floor for genuinely huge scans (1000×-sized dir → 188).
    d = _fake_dir(tmp_path, "uni100x", 2_510_068_075)
    n = autosize_initial_partitions(spark, d, uniform_reduce_keys=True)
    # ceil(2.51 GB / 128 MiB) = 19 ≤ 32, so the shipped local[32] floors
    # at the core count — exactly the measured-fast coarse regime
    assert n == max(spark.sparkContext.defaultParallelism, 19)
    reset_autosize(spark)
    d2 = _fake_dir(tmp_path, "uni1000x", 25_100_680_750)
    n2 = autosize_initial_partitions(spark, d2, uniform_reduce_keys=True)
    assert n2 == -(-25_100_680_750 // (128 << 20)) == 188


def test_uniform_never_lowers_a_fine_requirement(spark, tmp_path):
    # the declaration is per-load and the FINEST requirement wins the
    # epoch: a skew-unknown (fine) load's setting must survive a later
    # coarse-declared load against the same bytes
    d = _fake_dir(tmp_path, "mixed", 2_510_068_075)
    n_fine = autosize_initial_partitions(spark, d)
    assert n_fine == 300
    n_after = autosize_initial_partitions(spark, d, uniform_reduce_keys=True)
    assert n_after == 300
    assert spark.conf.get(CONF) == "300"


def test_cap_at_practical_ceiling(spark, tmp_path):
    d = _fake_dir(tmp_path, "huge", 1 << 40)  # 1 TiB apparent
    assert autosize_initial_partitions(spark, d) == _MAX_INITIAL_PARTITIONS


def test_env_override_disables_autosize(spark, tmp_path, monkeypatch):
    before = spark.conf.get(CONF)
    monkeypatch.setenv("SPARK_GRAFT_INITIAL_PARTITIONS", "7")
    d = _fake_dir(tmp_path, "big4", 5 << 30)
    n = autosize_initial_partitions(spark, d)
    assert spark.conf.get(CONF) == before  # untouched — operator override wins
    # the env value itself is returned, never read back through the conf:
    # a foreign session that never set the conf key must not raise
    # (ADVICE r14 #3)
    assert n == 7


def test_load_table_applies_autosize(spark):
    load_table(spark, SF_SMOKE, "region")
    assert SF_SMOKE in {k for k in _DIR_BYTES_MEMO}
    assert spark.conf.get(CONF) == str(spark.sparkContext.defaultParallelism)


def test_metadata_files_excluded(spark, tmp_path):
    d = tmp_path / "withmeta"
    d.mkdir()
    with open(d / "_SUCCESS", "wb") as fh:
        fh.truncate(1 << 30)
    with open(d / ".hidden.crc", "wb") as fh:
        fh.truncate(1 << 30)
    with open(d / "part-0.parquet", "wb") as fh:
        fh.truncate(1 << 20)
    assert autosize_initial_partitions(spark, str(d)) == (
        spark.sparkContext.defaultParallelism
    )


# ---------------------------------------------------------------------------
# r16: streaming state-partition autosizing (optimization round 1)
# ---------------------------------------------------------------------------
# A stateful streaming query's shuffle.partitions is its state-store
# partition count and AQE cannot coalesce it; the replay runners size it
# from the REPLAYED bytes (same 8 MiB target) with a 4-partition machinery
# floor — except Python-stateful queries, whose per-batch work parallelizes
# across state partitions, which keep the core-count floor.


def test_stream_partitions_floor_and_bytes(spark, tmp_path):
    from rocana_impala_udfs_spark.session import (
        _STREAM_MIN_PARTITIONS,
        _STREAM_TARGET_BYTES_PER_PARTITION,
        autosize_stream_state_partitions,
    )

    small = _fake_dir(tmp_path, "s_small", 1 << 20)  # 1 MiB -> floor
    assert autosize_stream_state_partitions(spark, small) == _STREAM_MIN_PARTITIONS
    big = _fake_dir(tmp_path, "s_big", 2 << 30)  # 2 GiB -> bytes/8MiB
    assert autosize_stream_state_partitions(spark, big) == (
        (2 << 30) // _STREAM_TARGET_BYTES_PER_PARTITION
    )


def test_stream_partitions_python_stateful_floor_is_cores(spark, tmp_path):
    from rocana_impala_udfs_spark.session import autosize_stream_state_partitions

    small = _fake_dir(tmp_path, "s_py", 1 << 20)
    assert autosize_stream_state_partitions(
        spark, small, python_stateful=True
    ) == spark.sparkContext.defaultParallelism


def test_stream_partitions_env_override(spark, tmp_path, monkeypatch):
    from rocana_impala_udfs_spark.session import autosize_stream_state_partitions

    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "11")
    d = _fake_dir(tmp_path, "s_env", 5 << 30)
    assert autosize_stream_state_partitions(spark, d) == 11


def test_run_to_table_applies_and_restores_state_partitions(spark):
    """End to end through the exact driver-key path: the JVM-stateful
    complete-mode key runs its state at the machinery floor (pinned via
    the query's own StreamingQueryProgress), the Python-stateful tws key
    keeps core-count state partitions, and in both cases the session conf
    is RESTORED afterwards (batch operators read it as a parallelism
    target)."""
    from rocana_impala_udfs_spark.plans.temporal import TEMPORAL_QUERIES
    from rocana_impala_udfs_spark.session import _STREAM_MIN_PARTITIONS
    from rocana_impala_udfs_spark.streaming import replay

    before = spark.conf.get("spark.sql.shuffle.partitions")
    TEMPORAL_QUERIES["stream_daily_event_stats"](spark, SF_SMOKE).collect()
    ops = (replay.LAST_PROGRESS["progress"] or {}).get("stateOperators") or []
    assert [o.get("numShufflePartitions") for o in ops] == [_STREAM_MIN_PARTITIONS]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    TEMPORAL_QUERIES["stream_tws_ewma_user_value"](spark, SF_SMOKE).collect()
    ops = (replay.LAST_PROGRESS["progress"] or {}).get("stateOperators") or []
    assert [o.get("numShufflePartitions") for o in ops] == [
        spark.sparkContext.defaultParallelism
    ]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# ---------------------------------------------------------------------------
# DataFrame call-site capture is off in the shipped session
# ---------------------------------------------------------------------------
# PySpark caches spark.python.sql.dataFrameDebugging.enabled process-wide on
# the first wrapped Column call, so the shipped default is only observable
# in an interpreter whose first session came from get_spark — a fresh
# subprocess, not the shared test session.

_BUILD_PROBE = """
import json, sys
from py4j.clientserver import ClientServerConnection
from pyspark.errors.utils import is_debugging_enabled
from rocana_impala_udfs_spark import get_spark
from rocana_impala_udfs_spark.plans.relational import q1_pricing_summary

spark = get_spark("callsite-probe", master="local[1]", shuffle_partitions=1)
sent = []
send = ClientServerConnection.send_command

def spy(self, command, *args, **kwargs):
    sent.append(command)
    return send(self, command, *args, **kwargs)

ClientServerConnection.send_command = spy
try:
    q1_pricing_summary(spark, sys.argv[1])
finally:
    ClientServerConnection.send_command = send
print(json.dumps({
    "ipython": "IPython" in sys.modules,
    "debugging": is_debugging_enabled(),
    "commands": len(sent),
    "origin_commands": sum("PySparkCurrentOrigin" in c for c in sent),
}))
spark.stop()
"""


@pytest.fixture(scope="module")
def fresh_build_probe():
    """Build q1_pricing_summary at sf0.001 in a fresh interpreter and
    report what the build did to the driver."""
    import json
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    r = subprocess.run(
        [sys.executable, "-c", _BUILD_PROBE, SF_SMOKE],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_plan_build_does_not_import_ipython(fresh_build_probe):
    assert fresh_build_probe["ipython"] is False


def test_dataframe_debugging_disabled_in_fresh_driver(fresh_build_probe):
    assert fresh_build_probe["debugging"] is False


def test_plan_build_sends_no_call_site_commands(fresh_build_probe):
    assert fresh_build_probe["commands"] > 0, "the spy saw no py4j traffic"
    assert fresh_build_probe["origin_commands"] == 0
