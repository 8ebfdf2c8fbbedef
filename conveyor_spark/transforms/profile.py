"""profile.apply — one-pass per-column data profiling.

The data-quality companion to validate.schema: row count, null
count, distinct count, min/max per column, emitted in LONG form
(one row per column) so downstream stages can filter/alert on it.

Scale design: ALL columns profile in ONE aggregate job — counts and
min/max are plain partial-aggregated expressions; exact distinct
counts rewrite into a single Expand-based aggregate (one extra
shuffle, still one job). For very wide tables or 100 TB inputs set
``distinct="approx"`` (HyperLogLog++, no Expand) — the default stays
exact so results are oracle-checkable.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


@register(
    "profile.apply", kind="transform",
    doc="Per-column stats (nulls/distinct/min/max) in one pass",
    params=[
        P("columns", "array", desc="Columns to profile (default: all)"),
        P("distinct", default="exact", allowed=("exact", "approx", "none"),
          desc="Distinct-count mode (approx = HLL sketch, one scan at scale)"),
    ],
    example={"distinct": "approx"},
    tags=["quality", "profiling"],
)
def profile_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Config: ``columns`` (default: all), ``distinct`` =
    "exact" (default) | "approx" | "none". Output rows:
    (column, n_rows, n_nulls, n_distinct, min_value, max_value) —
    min/max cast to string for a uniform schema."""
    df = inputs[0]
    columns = config.get("columns") or df.columns
    columns = [columns] if isinstance(columns, str) else list(columns)
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ConfigError(f"profile.apply: unknown columns {missing}")
    distinct = config.get("distinct", "exact")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        col = F.col(c)
        aggs.append(F.count(col).alias(f"__c_{c}"))
        if distinct == "exact":
            aggs.append(F.count_distinct(col).alias(f"__d_{c}"))
        elif distinct == "approx":
            aggs.append(F.approx_count_distinct(col).alias(f"__d_{c}"))
        else:
            aggs.append(F.lit(None).cast("bigint").alias(f"__d_{c}"))
        aggs.append(F.min(col).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(col).cast("string").alias(f"__max_{c}"))
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            (F.col("__n") - F.col(f"__c_{c}")).alias("n_nulls"),
            F.col(f"__d_{c}").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_value"),
            F.col(f"__max_{c}").alias("max_value"),
        )
        for c in columns
    ])
    return one.select(F.explode(rows).alias("p")).select("p.*")
