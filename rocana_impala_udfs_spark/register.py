"""Function registration — the reference's ``CREATE AGGREGATE FUNCTION``
surface (reference ``README.md:37-47``) mapped to the session catalog.

The reference distributes a ``.so`` via HDFS and binds five C symbols with
DDL; here the whole median family is one JVM ``Aggregator`` in the
committed ``jvm/rocana-udaf.jar``, registered under every SQL name in one
call:

    register_all(spark)
    spark.sql("SELECT CAST(appx_median_bounded(x, 5) AS DOUBLE) FROM numbers")

``appx_median_bounded`` is registered with the reference's STRING return type
so the documented ``CAST(... AS DOUBLE)`` idiom (reference ``README.md:61``)
works verbatim; ``appx_median_bounded_double`` is the idiomatic typed variant.
Every name runs with genuine partial+final aggregation, so
``appx_median_bounded_1call`` is the same function under its older name and
the salted two-statement form (``reservoir_partial`` over a salted GROUP BY,
then ``reservoir_merge_median``) is kept for callers that want the
serialized state in SQL.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from rocana_impala_udfs_spark.functions.median import DEFAULT_SEED
from rocana_impala_udfs_spark.jvm import register_jvm_udaf


def register_all(spark: SparkSession) -> SparkSession:
    """Register every engine function into the session catalog."""
    from rocana_impala_udfs_spark.functions import text as text_fns

    register_jvm_udaf(spark, DEFAULT_SEED)
    text_fns.register(spark)

    from rocana_impala_udfs_spark.functions import udtfs

    udtfs.register(spark)
    return spark
