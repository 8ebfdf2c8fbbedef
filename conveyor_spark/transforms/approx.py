"""Approximate/sketch aggregates — the scale-tier summaries.

SURVEY §2.4 lists these as absent from the reference ("Spark
freebies"); at 100 TB they are how you answer distribution questions
without exact shuffles: HLL++ count-distinct (constant memory),
quantile sketches (percentile_approx / GK), and frequent items
(count-min-style). All JVM built-ins.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.registry import OpContext, P, as_list, register


@register(
    "approx.count_distinct", kind="transform",
    doc="HLL++ distinct count (per group or global)",
    params=[
        P("column", required=True, desc="Column to count"),
        P("rsd", "float", default=0.05, min=0.000017, max=1.0,
          desc="Relative standard deviation of the sketch"),
        P("by", "array", desc="Grouping column(s); global when omitted"),
    ],
    example={"column": "user_id", "rsd": 0.01},
    tags=["approx", "sketch"],
)
def approx_count_distinct(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    column = config.get("column")
    rsd = float(config.get("rsd", 0.05))
    out = config.get("output_column", f"{column}_approx_distinct")
    agg = F.approx_count_distinct(F.col(column), rsd).alias(out)
    if by := config.get("by"):
        return df.groupBy(*as_list(by)).agg(agg)
    return df.agg(agg)


@register(
    "approx.quantiles", kind="transform", doc="Quantile sketch (percentile_approx)",
    params=[
        P("column", required=True, desc="Numeric column"),
        P("probabilities", "array", default=[0.25, 0.5, 0.75],
          desc="Quantiles to estimate (each in [0,1])"),
        P("accuracy", "integer", default=10000, min=1,
          desc="Sketch accuracy (1/accuracy relative error)"),
        P("by", "array", desc="Grouping column(s); global when omitted"),
    ],
    example={"column": "latency_ms", "probabilities": [0.5, 0.95, 0.99]},
    tags=["approx", "sketch"],
)
def approx_quantiles(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    column = config.get("column")
    probs = [float(p) for p in config.get("probabilities", [0.25, 0.5, 0.75])]
    accuracy = int(config.get("accuracy", 10000))
    out = config.get("output_column", f"{column}_quantiles")
    agg = F.percentile_approx(
        F.col(column), F.array(*[F.lit(p) for p in probs]), F.lit(accuracy)
    ).alias(out)
    if by := config.get("by"):
        return df.groupBy(*as_list(by)).agg(agg)
    return df.agg(agg)


@register(
    "approx.frequent_items", kind="transform", doc="Heavy hitters per column",
    params=[
        P("columns", "array", required=True, desc="Column(s) to scan"),
        P("support", "float", default=0.01, min=0.0001, max=1.0,
          desc="Minimum frequency"),
    ],
    example={"columns": ["event_type"], "support": 0.01},
    tags=["approx", "sketch"],
)
def approx_frequent_items(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    columns = config.get("columns")
    support = float(config.get("support", 0.01))
    return df.freqItems(as_list(columns), support)
