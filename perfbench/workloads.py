"""The benchmark's workloads: which calls a pass makes, and how each call's
output is checked.

A call builds a fresh query through the engine's public entry points
(``__spark_entry__.queries()``, ``operators.reservoir`` and the registered
SQL names) and the harness collects it. Exact calls are checked against the
key's ``oracle_sql()`` on DuckDB; bounded calls (k < group size) against
exact ranks, |rank/n - p| <= 2/sqrt(k), four standard errors of a k-sample
median's rank.
"""

from __future__ import annotations

import math
import random
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

# Bounded regime: k far below every group of lineitem, so each reservoir
# saturates and the answer is a sample median, checked by rank.
BOUNDED_K = 200
BOUNDED_P = 0.5

MEDIAN_EXACT = [
    "appx_median_price_by_returnflag",  # mapInPandas -> applyInPandas operator
    "appx_median_sql_onecall",  # JVM Aggregator
    "appx_median_sql_twophase",  # salted pandas partial/merge UDF pair
    "appx_median_sql_udaf",  # grouped-agg pandas UDAF
    "appx_p90_value_by_event_type",
    "window_sliding_median_price",
    # The streaming layer (state store, WAL, per-trigger commits) is
    # measured here: a separate streaming workload does not fit the run
    # budget (see BENCHMARK.json).
    "stream_daily_event_stats",
]

TPCH = [
    "q1_pricing_summary",
    "join_revenue_by_nation",
    "join_broadcast_brand_prices",
    "exists_q4_order_priority",
    "join_q7_nation_volume",
    "join_q9_profit_by_nation_year",
    "join_q10_returned_items",
    "in_q18_large_volume_customers",
    "agg_order_sizes",
]


@dataclass(frozen=True)
class Call:
    """One benchmark call: ``build(spark, sf_dir)`` returns the DataFrame
    the harness collects. ``oracle`` names the ``oracle_sql()`` key for
    exact calls; bounded calls carry ``oracle=None`` and are rank-checked."""

    name: str
    build: Callable
    oracle: str | None


def _bounded_calls(seed: int) -> list[Call]:
    from rocana_impala_udfs_spark.operators.reservoir import appx_median_bounded_agg
    from rocana_impala_udfs_spark.sources.io import load_table

    k = BOUNDED_K

    def agg(spark, sf_dir):
        li = load_table(spark, sf_dir, "lineitem")
        return appx_median_bounded_agg(
            li, "l_extendedprice", k, ["l_returnflag"], out="median_price", seed=seed
        )

    def sql(text):
        return lambda spark, sf_dir: spark.sql(text)

    return [
        Call("bounded_agg", agg, None),
        Call(
            "bounded_onecall",
            sql(
                "SELECT l_returnflag, CAST(appx_median_bounded_1call(l_extendedprice, "
                f"{k}) AS DOUBLE) AS median_price FROM lineitem GROUP BY l_returnflag"
            ),
            None,
        ),
        Call(
            "bounded_twophase",
            sql(
                "WITH partials AS (SELECT l_returnflag, reservoir_partial(l_extendedprice, "
                f"{k}) AS state FROM lineitem GROUP BY l_returnflag, pmod(hash(l_orderkey), 16)) "
                "SELECT l_returnflag, reservoir_merge_median(state) AS median_price "
                "FROM partials GROUP BY l_returnflag"
            ),
            None,
        ),
        Call(
            "bounded_udaf",
            sql(
                "SELECT l_returnflag, appx_median_bounded_double(l_extendedprice, "
                f"{k}) AS median_price FROM lineitem GROUP BY l_returnflag"
            ),
            None,
        ),
    ]


def _key_calls(keys: list[str]) -> list[Call]:
    import __spark_entry__

    queries = __spark_entry__.queries()
    return [Call(k, queries[k], k) for k in keys]


WORKLOADS = ("median", "tpch")


def calls(workload: str, seed: int) -> list[Call]:
    """The calls of one pass of ``workload``, in declaration order."""
    if workload == "median":
        return _key_calls(MEDIAN_EXACT) + _bounded_calls(seed)
    if workload == "tpch":
        return _key_calls(TPCH)
    raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")


def pass_order(n_calls: int, seed: int, pass_no: int) -> list[int]:
    """The seed fixes the order of calls in every pass."""
    order = list(range(n_calls))
    random.Random(seed * 100_003 + pass_no).shuffle(order)
    return order


def rank_error(vals: np.ndarray, v: float, p: float = BOUNDED_P) -> float | None:
    """Distance from ``p`` to the rank interval of ``v`` in the sorted
    ``vals`` (0 when it covers ``p``); None when ``v`` is not a value."""
    lo = int(np.searchsorted(vals, v, "left"))
    hi = int(np.searchsorted(vals, v, "right"))
    if hi == lo:
        return None
    return max(lo / len(vals) - p, p - (hi - 1) / len(vals), 0.0)


def bounded_problems(rows, values_by_group: dict, p: float = BOUNDED_P, k: int = BOUNDED_K) -> list[str]:
    """Rank check for a bounded call's result rows ``(group, value)``.

    ``values_by_group`` maps each group to its sorted exact values. A result
    passes when it is a data value of its group whose rank interval lies
    within 2/sqrt(k) of ``p``; every group must appear exactly once."""
    bound = 2.0 / math.sqrt(k)
    problems = []
    seen = [r[0] for r in rows]
    if sorted(seen) != sorted(values_by_group):
        problems.append(f"groups {sorted(seen)} vs exact {sorted(values_by_group)}")
    for g, v in rows:
        vals = values_by_group.get(g)
        if vals is None:
            continue
        if v is None or v != v:
            problems.append(f"group {g}: NULL median")
            continue
        err = rank_error(vals, v, p)
        if err is None:
            problems.append(f"group {g}: {v!r} is not a value of the group")
        elif err > bound:
            problems.append(f"group {g}: rank error {err:.4f} from p={p} exceeds {bound:.4f}")
    return problems
