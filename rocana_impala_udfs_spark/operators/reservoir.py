"""Distributed reservoir aggregation — the reference's five-phase UDA
protocol (init/update/serialize/merge/finalize, ``median.cc:117-304``) as a
DataFrame operator.

Each operator is ``df.groupBy(group_cols).agg(<JVM aggregate column>)``
over the one reservoir ``Aggregator`` (:mod:`rocana_impala_udfs_spark.jvm`):
Spark plans it as a partial ObjectHashAggregate per partition (init
``median.cc:117``, update ``median.cc:128``), an exchange that carries only
≤ ``max_samples`` samples per group per partition, and a final
ObjectHashAggregate that keys and merges the partials (``median.cc:176-192``,
``median.cc:263-280``) and finalizes (``median.cc:299-301``). Shuffle volume
is independent of the input row count, which is the whole point of the
reference's bounded design. Group columns keep their types; a global
aggregate over empty input returns one NULL row (``median.cc:295-298``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rocana_impala_udfs_spark.functions.median import (
    DEFAULT_SEED,
    appx_percentile_bounded,
    reservoir_sample,
)


def reservoir_sample_agg(
    df: DataFrame,
    value_col: str,
    max_samples: int,
    group_cols: list[str] | None = None,
    out: str = "samples",
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """The reusable primitive under the median: ``reservoir_sample(col, k)``
    per group, returned as a sorted ARRAY<DOUBLE> (sorted so results are
    deterministic whenever the reservoir is unsaturated — every non-null
    value retained exactly once, matching ``max_samples >= n`` semantics of
    median-test.cc:66-82)."""
    col = reservoir_sample(value_col, max_samples, seed)
    return df.groupBy(*(group_cols or [])).agg(col.alias(out))


def appx_median_bounded_agg(
    df: DataFrame,
    value_col: str,
    max_samples: int,
    group_cols: list[str] | None = None,
    out: str = "median",
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """``appx_median_bounded(value_col, max_samples) GROUP BY group_cols``
    with the reference's exact semantics; exact when each group has
    ≤ ``max_samples`` non-null rows."""
    return appx_percentile_bounded_agg(
        df, value_col, 0.5, max_samples, group_cols, out, seed
    )


def appx_percentile_bounded_agg(
    df: DataFrame,
    value_col: str,
    p: float,
    max_samples: int,
    group_cols: list[str] | None = None,
    out: str = "percentile",
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """The reference's bounded-reservoir aggregate generalized to any
    percentile: finalize picks sorted[min(floor(n*p), n-1)] (p=0.5 == the
    reference's upper-median rule, ``median.cc:299-301``). Exact whenever
    each group has ≤ ``max_samples`` non-null rows."""
    col = appx_percentile_bounded(value_col, p, max_samples, seed)
    return df.groupBy(*(group_cols or [])).agg(col.alias(out))
