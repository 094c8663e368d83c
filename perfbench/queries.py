"""The ``control_plane`` workload: registered query callables,
materialized with the noop sink as ``bench.py`` does, one at a time
(closed loop, one caller), in passes over the set after two untimed
warm-up passes in a fresh session.

Most of its time falls outside Spark jobs: micro-batch commits and
planning (two streams), per-iteration job round-trips (the recursive
closure) and Python DataSource start-up. The set is a fixed
named subset of the control-plane queries, sized so that one run fits
the benchmark's time budget (README.md).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, types as T

CONTROL_PLANE_QUERIES = (
    "stream_tumbling_window",
    "stream_dedup_stateful",
    "sql_recursive_closure",
    "rdf_rest_datasource_scan",
)


def materialize(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _canonical(col, dtype):
    """Values whose last bits depend on summation order are rounded;
    ``+ 0.0`` folds -0.0 into 0.0."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(col.cast("double"), 6) + F.lit(0.0)
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, (T.DoubleType, T.FloatType)
    ):
        return F.transform(col, lambda x: F.round(x.cast("double"), 6) + F.lit(0.0))
    if isinstance(dtype, (T.MapType, T.StructType, T.ArrayType)):
        return F.to_json(col)
    return col


def fingerprint(df: DataFrame) -> dict:
    """Order-insensitive result fingerprint: row count and the sum of a
    64-bit hash over all columns of each row."""
    fields = df.schema.fields
    named = df.toDF(*[f"c{i}" for i in range(len(fields))])
    cols = [_canonical(F.col(f"c{i}"), f.dataType) for i, f in enumerate(fields)]
    row = named.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return {"rows": int(row.n), "hash": str(row.s or 0)}
