"""MODA — ColumnStore's statistical-mode aggregate, Spark-first.

Reference: utils/regr/moda.h:24-35 (``CREATE AGGREGATE FUNCTION moda``)
and the MTR battery mysql-test/columnstore/basic/t/mcs98_moda_function.test.
Semantics (moda.h:32-35, moda.cpp:269-301): return the value with the
greatest number of occurrences; ties are broken by (1) the value closest
to the group AVG, then (2) the smallest value.

The reference runs this as a distributed UDAF (per-PM hash maps merged on
the UM). Spark-first it needs no UDF at all: the per-value occurrence
counts ARE a groupBy, the group mean is exactly recoverable from those
counts as the count-weighted mean of distinct values (sum(v*n)/sum(n) —
no second scan of the raw table), and the argmax-with-tiebreak is a
single ``max_by`` over a lexicographically ordered struct. Two shuffles
total — (group, value) then (group) — both on aggregated data, partial
combine on both; no window over unbounded input, scale-safe at any group
cardinality.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import NumericType


def moda(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    out_col: str = "moda",
) -> DataFrame:
    """Per-group MODA of a numeric column.

    Returns one row per group with columns ``(*group_cols, out_col)``.
    NULL values are ignored (moda.cpp nextValue skips NULLs); an
    all-NULL/empty group yields NULL, matching the reference UDAF.
    """
    field = df.schema[value_col].dataType
    if not isinstance(field, NumericType):
        raise TypeError(
            f"moda() supports numeric columns; {value_col} is {field}. "
            "The reference's string Moda_impl_T<string> breaks ties by "
            "collation order without the AVG step — register a separate "
            "string variant if needed."
        )
    g = list(group_cols)
    v = F.col(value_col)

    # count(v) not count(*): NULL values get _n = 0, so they never win
    # the max_by below, yet their group survives — an all-NULL group
    # yields a row with NULL moda, matching the reference UDAF (a
    # pre-filter would silently drop the group).
    counts = df.groupBy(*g, value_col).agg(F.count(v).alias("_n"))
    # Count-weighted mean of distinct values == group AVG, computed from
    # the (already aggregated) counts table via an analytic sum over the
    # group key — the counts table is |distinct values| rows, so the
    # window partitions are the per-group distinct-value sets, bounded
    # and co-partitioned with the groupBy that followed; Catalyst reuses
    # the (group) exchange for the final max_by.
    from pyspark.sql import Window

    if g:
        w = Window.partitionBy(*g)
        with_avg = counts.withColumn(
            "_avg",
            F.sum(v * F.col("_n")).over(w) / F.sum("_n").over(w),
        )
    else:
        # Global case: a partitionBy(lit(1)) window would funnel every
        # distinct value into ONE task — at 100 TB that's a scale trap.
        # The global weighted mean is a 1-row aggregate; broadcast it
        # back (same shape as subq_scalar_filter_avg).
        totals = counts.agg(
            (F.sum(v * F.col("_n")) / F.sum("_n")).alias("_avg")
        )
        with_avg = counts.crossJoin(F.broadcast(totals))
    # Lexicographic struct max: highest count, then smallest |v - avg|,
    # then smallest value (moda.h:33-35 tie order).
    rank_key = F.struct(
        F.col("_n"),
        (-F.abs(v - F.col("_avg"))).alias("_negdist"),
        (-v).alias("_negv"),
    )
    agg = F.max_by(v, rank_key).alias(out_col)
    return (
        with_avg.groupBy(*g).agg(agg)
        if g
        else with_avg.agg(agg)
    )
