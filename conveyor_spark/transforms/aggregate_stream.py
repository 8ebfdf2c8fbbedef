"""aggregate.stream — record-stream aggregation (batch semantics).

Reference: src/modules/transforms/aggregate_stream.rs:28-178 — ops
count, sum, avg, min, max; optional ``group_by``; on a stream it
aggregates per incoming window-batch (no cross-batch state).

Batch path: identical to groupby.apply / reduce.apply on Spark (one
hash aggregate). When the upstream stage is window.apply, grouping by
its emitted window column(s) reproduces the reference's per-window
aggregation chain (aggregate_stream.rs:288-299). The true streaming
path lives in conveyor_spark.streaming (Structured Streaming
groupBy(window).agg with watermarks — strictly stronger than the
reference's per-batch-only state).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.streaming.ops import STATE_PARTITIONS_PARAM


@register(
    "aggregate.stream", kind="transform", streaming_capable=True,
    doc="Stream-style aggregate (count/sum/avg/min/max)",
    params=[
        P("operation", required=True,
          allowed=("count", "sum", "avg", "mean", "min", "max"), desc="Aggregate"),
        P("value_column", desc="Column to aggregate (not needed for count)"),
        P("column", desc="Reference-spec alias for value_column"),
        P("group_by", "array", desc="Grouping column(s); global when omitted"),
        P("output_column", desc="Result column (default: the operation name)"),
        STATE_PARTITIONS_PARAM,
    ],
    example={"operation": "sum", "value_column": "amount", "group_by": ["region"]},
    tags=["aggregate", "streaming"],
)
def aggregate_stream(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    from conveyor_spark.streaming.ops import request_state_partitions

    request_state_partitions(ctx, config, "aggregate.stream",
                             df=inputs[0])
    df = inputs[0]
    operation = config["operation"]
    # `column` is the reference's documented key
    value_column = config.get("value_column") or config.get("column")
    if operation != "count" and not value_column:
        raise ConfigError(f"aggregate.stream {operation} requires 'value_column'")
    output_column = config.get("output_column") or (
        "count" if operation == "count" else f"{operation}_{value_column}"
    )
    if operation == "count":
        agg = F.count(F.lit(1))
    else:
        fn = {"sum": F.sum, "avg": F.avg, "mean": F.avg, "min": F.min, "max": F.max}[operation]
        agg = fn(F.col(value_column))
    group_by = config.get("group_by")
    if group_by:
        group_by = [group_by] if isinstance(group_by, str) else list(group_by)
        return df.groupBy(*group_by).agg(agg.alias(output_column))
    return df.agg(agg.alias(output_column))
