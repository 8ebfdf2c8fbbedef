"""reduce.apply — whole-column aggregate -> 1-row DataFrame.

Reference: src/modules/transforms/reduce.rs:91-136 (ops sum, avg/mean,
count, min, max, median, std, var). Global aggregation in Spark is a
partial-aggregate per partition + single final reduce — no full
shuffle of rows.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.transforms.group_by import build_agg


@register(
    "reduce.apply", kind="transform", doc="Global aggregate to one row",
    params=[
        P("column", required=True, desc="Column to aggregate"),
        P("operation", required=True,
          desc="Aggregate op (same vocabulary as groupby.apply)"),
        P("output_column", desc="Result column name (default: same as column)"),
        P("order_by", "array", desc="Ordering for first/last/collect"),
    ],
    example={"column": "amount", "operation": "sum", "output_column": "total"},
    tags=["aggregate"],
)
def reduce_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    column = config.get("column")
    operation = config.get("operation")
    # reference default: result column keeps the input column's name
    # (docs/builtin-functions.md reduce.apply); "result" kept as the
    # documented fallback when the column key itself is absent
    output_column = config.get("output_column") or column
    return df.agg(build_agg(column, operation, config.get("order_by")).alias(output_column))
