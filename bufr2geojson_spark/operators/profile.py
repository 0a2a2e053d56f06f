"""Data-quality operator: one-pass table profiling.

Profiling answers "is this 100 TB table sane?" without N scans: every
column's metrics ride ONE aggregation (Catalyst evaluates all aggregate
expressions in a single pass; map-side partials keep the shuffle at one row
per partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def profile_table(df: DataFrame, approx_rsd: float | None = None) -> DataFrame:
    """Column profile: one row per column with row/null/distinct counts and
    numeric min/max/mean. All columns' metrics are computed in a SINGLE
    aggregation pass; ``approx_rsd`` switches distinct counts to HLL
    sketches (the 100 TB default — exact per-column countDistinct is an
    expand that multiplies the shuffle by the column count).

    Output: (col_name, n_rows, n_null, n_distinct, min_str, max_str, mean).
    min/max are stringified so heterogeneous column types fit one schema;
    mean is null for non-numeric columns.
    """
    cols = df.columns
    # metric aliases are POSITIONAL (_null_0, _dist_0, ...) so arbitrary
    # source column names (spaces, quotes, backticks — exactly what raw
    # ingested tables a profiler targets contain) never enter an identifier;
    # the display name rides only as an escaped string literal in stack()
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(cols):
        col = df[c]
        aggs.append(
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"_null_{i}")
        )
        if approx_rsd is None:
            aggs.append(F.countDistinct(col).alias(f"_dist_{i}"))
        else:
            aggs.append(
                F.approx_count_distinct(col, approx_rsd).alias(f"_dist_{i}")
            )
        is_num = isinstance(df.schema[c].dataType, NumericType)
        if is_num:
            aggs.append(F.min(col).cast("string").alias(f"_min_{i}"))
            aggs.append(F.max(col).cast("string").alias(f"_max_{i}"))
            aggs.append(F.avg(col).alias(f"_mean_{i}"))
        else:
            # min/max of complex types (arrays/structs) are not orderable in
            # every engine; profile only atomic non-numerics
            orderable = df.schema[c].dataType.typeName() in (
                "string", "date", "timestamp", "timestamp_ntz", "boolean")
            if orderable:
                aggs.append(F.min(col).cast("string").alias(f"_min_{i}"))
                aggs.append(F.max(col).cast("string").alias(f"_max_{i}"))
            else:
                aggs.append(F.lit(None).cast("string").alias(f"_min_{i}"))
                aggs.append(F.lit(None).cast("string").alias(f"_max_{i}"))
            aggs.append(F.lit(None).cast("double").alias(f"_mean_{i}"))
    one = df.agg(*aggs)
    # unpivot the single wide row into (column, metrics) rows — stack() is
    # a generator projection over the one-row aggregate, driver-free
    stack_args = []
    for i, c in enumerate(cols):
        label = c.replace("\\", "\\\\").replace("'", "\\'")
        stack_args.append(f"'{label}'")
        stack_args.append(f"_null_{i}")
        stack_args.append(f"_dist_{i}")
        stack_args.append(f"_min_{i}")
        stack_args.append(f"_max_{i}")
        stack_args.append(f"_mean_{i}")
    expr = (
        f"stack({len(cols)}, {', '.join(stack_args)}) AS "
        "(col_name, n_null, n_distinct, min_str, max_str, mean)"
    )
    return one.select(F.col("_n").alias("n_rows"), F.expr(expr)).select(
        "col_name", "n_rows",
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_str", "max_str", "mean",
    )
