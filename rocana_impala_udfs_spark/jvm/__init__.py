"""The one execution path of the paper's function family: a JVM ``Aggregator``.

The reference's UDA runs inside the engine's own init → update → serialize
→ merge → finalize protocol, with no foreign-worker boundary. Here that is
``jvm/src/rocana/spark/udaf/AppxMedianBounded.java``: one reduce and one
merge over a primitive ``double[]`` reservoir buffer, run by Spark's
ObjectHashAggregate as a genuine partial/final aggregation, so only
≤ k-sample buffers cross the exchange. Every batch entry point uses it —
the DataFrame operators in :mod:`~rocana_impala_udfs_spark.operators.reservoir`,
the column functions in :mod:`~rocana_impala_udfs_spark.functions.median`,
and every registered SQL name; they differ only in the finisher (DOUBLE
percentile, STRING, C ``%.6g`` STRING, sorted sample, flat partial state).
The jar is built with the plain JDK (``sh tools/build_jvm_udaf.sh``) and
committed, and it is required: loading it raises if it is missing.

Loading works against a SparkSession we did NOT create: ``ADD JAR`` puts
the jar on the session's shared jar classloader (executors included), and
the entry class is instantiated through that loader over py4j — no
spark-submit flags needed. The jar class loader belongs to the
SparkContext, so the loaded instance is cached there: the jar is added
once per context however many sessions and callers ask.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import Column, SparkSession

JAR_PATH = os.path.join(os.path.dirname(__file__), "rocana-udaf.jar")
UDAF_CLASS = "rocana.spark.udaf.AppxMedianBounded"
FUNCTIONS_CLASS = "rocana.spark.udaf.ReservoirFunctions"


def _functions(spark: SparkSession | None = None):
    """The ``ReservoirFunctions`` instance of the SparkContext of ``spark``
    (default: the active one); adds the jar on first use. Raises, naming
    the class and the jar, if it cannot load."""
    sc = spark.sparkContext if spark is not None else SparkContext._active_spark_context
    fns = getattr(sc, "_rocana_reservoir_functions", None)
    if fns is not None:
        return fns
    spark = spark or SparkSession.active()
    if not os.path.exists(JAR_PATH):
        raise RuntimeError(
            f"{UDAF_CLASS}: jar {JAR_PATH} is missing; rebuild it with "
            "sh tools/build_jvm_udaf.sh"
        )
    try:
        spark.sql("ADD JAR '{}'".format(JAR_PATH.replace("'", "\\'")))
        loader = spark._jsparkSession.sharedState().jarClassLoader()
        cls = spark._jvm.java.lang.Class.forName(FUNCTIONS_CLASS, True, loader)
        fns = cls.newInstance()
    except Exception as exc:
        raise RuntimeError(
            f"cannot load {UDAF_CLASS} from {JAR_PATH}: {type(exc).__name__}: {exc}"
        ) from exc
    sc._rocana_reservoir_functions = fns
    return fns


def register_jvm_udaf(spark: SparkSession, seed: int) -> None:
    """Register every SQL name of the family (``appx_median_bounded``,
    ``_1call``, ``_ref_format``, ``_double``, ``appx_percentile_bounded``,
    ``reservoir_sample``, ``reservoir_partial``, ``reservoir_merge_median``)
    in one JVM-side call."""
    _functions(spark).registerAll(spark._jsparkSession, seed)


def reservoir_column(
    name: str,
    finish: str,
    value: Column | str,
    max_samples: int,
    seed: int,
    p: float | None = None,
) -> Column:
    """One aggregate column over the active session: ``finish`` is one of
    ``DOUBLE``, ``STRING``, ``REF_FORMAT``, ``SAMPLE``, ``STATE``; ``p``
    (percentile, DOUBLE only) defaults to the median."""
    from pyspark.sql import functions as F
    from pyspark.sql.classic.column import Column as ClassicColumn

    jp = None if p is None else F.lit(float(p))._jc
    jc = _functions().column(
        name,
        finish,
        int(seed),
        (F.col(value) if isinstance(value, str) else value).cast("double")._jc,
        jp,
        F.lit(int(max_samples))._jc,
    )
    return ClassicColumn(jc)
