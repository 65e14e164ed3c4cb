"""Grand-TOTAL row appended to an analysis table.

Reference appends a TOTAL row to every analysis sheet
(``src/analytics.py:167-174`` et al.). Spark-first shape: a one-row global
aggregate unioned by name under the detail rows. The TOTAL arm reads the
detail aggregate through a ``ReusedExchange``, so the detail aggregation's
shuffle runs once for both arms; at scale both are single-pass
map-side-combined aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rounding import r2


def with_total_row(df: DataFrame, label_col: str, sum_cols: list[str],
                   label: str = "TOTAL",
                   int_sum_cols: list[str] | None = None,
                   const: dict[str, Column] | None = None) -> DataFrame:
    """Union ``df`` with one TOTAL row.

    ``sum_cols`` are money columns (summed, rounded 2); ``int_sum_cols`` are
    count columns (summed as long). Columns not covered are nulled on the
    TOTAL row unless ``const`` supplies a literal override.

    Nothing is cached: Spark plans the TOTAL arm's scan of ``df`` as a
    ``ReusedExchange`` of the detail arm's aggregate exchange, and callers
    that read the frame more than once checkpoint the whole union.
    """
    aggs = [r2(F.sum(F.col(c))).alias(c) for c in sum_cols]
    aggs += [F.sum(F.col(c)).cast("long").alias(c) for c in (int_sum_cols or [])]
    total = df.agg(*aggs) if aggs else df.limit(1).select()
    for name, expr in (const or {}).items():
        total = total.withColumn(name, expr)
    total = total.withColumn(label_col, F.lit(label))
    out_cols = df.columns
    missing = [c for c in out_cols if c not in total.columns]
    for c in missing:
        total = total.withColumn(c, F.lit(None))
    return df.unionByName(total.select(*out_cols))
