"""distinct.apply — deduplicate rows.

Reference: src/modules/transforms/distinct.rs:74-121 — dedup on all or
a subset of columns, ``keep`` in first|last|any|none. Polars relies on
physical row order for first/last; Spark DataFrames have no row order,
so order-sensitive keeps require an explicit ``order_by`` (or an
``_ingest_seq`` column added at source). This is the correct
distributed semantics: "first" must be defined by data, not by
partition layout.

Plans:
- keep=any  -> dropDuplicates(subset)      (hash aggregate, 1 shuffle)
- keep=first/last -> row_number() over (partition by subset order by
  order_by [desc]) = 1                      (1 shuffle, no sort of
  full data beyond the window)
- keep=none -> count() over (partition by subset) == 1
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, as_list, register


@register(
    "distinct.apply", kind="transform",
    doc="Drop duplicate rows (keep first/last/any/none)",
    params=[
        P("columns", "array", desc="Duplicate key columns (default: all)"),
        P("subset", "array", desc="Reference-spec alias for columns"),
        P("keep", default="any", allowed=("any", "first", "last", "none"),
          desc="Which duplicate survives (first/last need order_by; "
               "none drops every duplicated row)"),
        P("order_by", "array", desc="Ordering for keep=first/last"),
    ],
    example={"columns": ["user_id"], "keep": "first", "order_by": ["ts"]},
    tags=["dedup", "relational"],
)
def distinct_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    # `subset` is the reference's documented key (docs/builtin-functions.md)
    cols = config.get("columns") or config.get("subset")
    subset = as_list(cols) if cols else df.columns
    keep = config.get("keep", "any")
    if keep == "any":
        return df.dropDuplicates(subset)
    if keep in ("first", "last"):
        order_by = config.get("order_by")
        if not order_by:
            raise ConfigError(
                "distinct.apply keep=first/last requires 'order_by' — distributed "
                "data has no physical row order (reference relies on Polars "
                "single-node ordering, distinct.rs:74-121)"
            )
        order_cols = [F.col(c) for c in as_list(order_by)]
        if keep == "last":
            order_cols = [c.desc() for c in order_cols]
        w = Window.partitionBy(*subset).orderBy(*order_cols)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    if keep == "none":
        w = Window.partitionBy(*subset)
        return (
            df.withColumn("__cnt", F.count(F.lit(1)).over(w))
            .filter(F.col("__cnt") == 1)
            .drop("__cnt")
        )
    raise ConfigError(f"distinct.apply: unknown keep {keep!r}")
