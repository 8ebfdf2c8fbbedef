"""Relational extensions: join / union / intersect / except / pivot.

The reference has NONE of these (README.md:326 lists "join, pivot" as
roadmap; fan-in stages exist structurally but every built-in consumes
one input — src/core/dag_executor.rs:161-187). The DAG spec already
models multi-input stages, so we expose them as first-class ops.

Scale notes:
- join: ``broadcast: true`` (or auto via autoBroadcastJoinThreshold)
  turns a shuffle join into a broadcast hash join — mandatory for
  dim tables against a 100 TB fact table. AQE converts at runtime
  when estimates are off, and splits skewed partitions.
- union is metadata-only (no shuffle); intersect/except shuffle
  both sides on all columns — keep projections narrow first.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


@register(
    "join.apply", kind="transform", min_inputs=2, max_inputs=2, doc="Join two inputs",
    params=[
        P("on", "array", desc="Equi-join key(s); or use condition"),
        P("condition", desc="Arbitrary join predicate (SQL)"),
        P("how", default="inner",
          allowed=("inner", "left", "right", "full", "left_semi", "left_anti", "cross"),
          aliases=("outer", "full_outer", "left_outer", "right_outer", "semi", "anti"),
          desc="Join type"),
        P("broadcast", "boolean",
          desc="Force broadcast of the smaller (right) side"),
        P("salt", "integer", min=1,
          desc="Skew mitigation: replicate the build side over N salts"),
    ],
    example={"on": ["customer_id"], "how": "left", "broadcast": True},
    tags=["join", "relational"],
)
def join_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    if len(inputs) != 2:
        raise ConfigError("join.apply requires exactly 2 inputs")
    left, right = inputs
    how = config.get("how", "inner")
    if config.get("broadcast"):
        right = F.broadcast(right)
    on = config.get("on")
    if on:
        on = [on] if isinstance(on, str) else list(on)
        if salt := config.get("salt"):
            return _salted_join(left, right, on, how, int(salt))
        return left.join(right, on=on, how=how)
    if cond := config.get("condition"):
        return left.join(right, on=F.expr(cond), how=how)
    if how == "cross":
        return left.crossJoin(right)
    raise ConfigError("join.apply requires 'on' or 'condition'")


def _salted_join(
    left: DataFrame, right: DataFrame, on: list[str], how: str, salt: int
) -> DataFrame:
    """Skew-salted equi-join: a hot key's rows all hash to ONE reduce
    task in a plain shuffle join; salting splits each left key into
    `salt` shards (deterministic hash of the full row — no RNG) and
    replicates the right side across shards, so a hot key fans out
    over `salt` tasks. Use when BOTH sides are too big to broadcast
    and keys are skewed beyond what AQE's skew-join splitting handles
    (AQE splits partitions, not single monster keys mid-aggregation).
    Cost: right side x `salt` — keep the right side the smaller one.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ConfigError(f"join.apply salt supports inner/left joins, not {how!r}")
    left_salted = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)).cast("int"),
    )
    right_exploded = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = left_salted.join(right_exploded, on=[*on, "__salt"], how=how)
    return out.drop("__salt")


@register(
    "union.apply", kind="transform", min_inputs=2, max_inputs=None,
    doc="Union N inputs by name",
    params=[
        P("allow_missing_columns", "boolean", default=False,
          desc="Null-fill columns absent from some inputs"),
        P("distinct", "boolean", default=False, desc="Drop duplicates after union"),
    ],
    example={"allow_missing_columns": True},
    tags=["set", "relational"],
)
def union_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    if len(inputs) < 2:
        raise ConfigError("union.apply requires >= 2 inputs")
    allow_missing = bool(config.get("allow_missing_columns", False))
    out = inputs[0]
    for df in inputs[1:]:
        out = out.unionByName(df, allowMissingColumns=allow_missing)
    if bool(config.get("distinct", False)):
        out = out.dropDuplicates()
    return out


@register(
    "intersect.apply", kind="transform", min_inputs=2, max_inputs=2,
    doc="Set intersection",
    params=[P("all", "boolean", default=False, desc="Bag semantics (INTERSECT ALL)")],
    example={"all": False},
    tags=["set", "relational"],
)
def intersect_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    if len(inputs) != 2:
        raise ConfigError("intersect.apply requires exactly 2 inputs")
    if bool(config.get("all", False)):
        return inputs[0].intersectAll(inputs[1])
    return inputs[0].intersect(inputs[1])


@register(
    "except.apply", kind="transform", min_inputs=2, max_inputs=2, doc="Set difference",
    params=[P("all", "boolean", default=True, desc="Bag semantics (EXCEPT ALL)")],
    example={"all": True},
    tags=["set", "relational"],
)
def except_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    if len(inputs) != 2:
        raise ConfigError("except.apply requires exactly 2 inputs")
    if bool(config.get("all", True)):
        return inputs[0].exceptAll(inputs[1])
    return inputs[0].subtract(inputs[1])


@register(
    "pivot.apply", kind="transform", doc="groupBy().pivot() wide aggregation",
    params=[
        P("by", "array", required=True, desc="Row key column(s)"),
        P("pivot", required=True, desc="Column whose values become new columns"),
        P("values", "array",
          desc="Explicit pivot values (skips the discovery pass — REQUIRED at "
               "scale to avoid an extra distinct job)"),
        P("agg", "object",
          desc="{column, operation, output_column?} (default: count of pivot)"),
    ],
    example={"by": ["region"], "pivot": "status", "values": ["open", "closed"]},
    tags=["pivot", "relational"],
)
def pivot_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    by = config.get("by")
    pivot_col = config.get("pivot")
    by = [by] if isinstance(by, str) else list(by)
    values = config.get("values")  # pinning values avoids a distinct-scan job
    agg_cfg = config.get("agg", {"column": pivot_col, "operation": "count"})
    from conveyor_spark.transforms.group_by import build_agg

    agg = build_agg(agg_cfg["column"], agg_cfg["operation"]).alias(
        agg_cfg.get("output_column", "value")
    )
    grouped = df.groupBy(*by)
    pivoted = grouped.pivot(pivot_col, values) if values else grouped.pivot(pivot_col)
    return pivoted.agg(agg)


@register(
    "unpivot.apply", kind="transform", doc="Melt wide columns to long",
    params=[
        P("ids", "array", required=True, desc="Identifier column(s) kept as-is"),
        P("values", "array", required=True, desc="Columns to melt"),
        P("variable_column", default="variable", desc="Melted-name column"),
        P("value_column", default="value", desc="Melted-value column"),
    ],
    example={"ids": ["id"], "values": ["q1", "q2", "q3"]},
    tags=["pivot", "relational"],
)
def unpivot_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    ids = config.get("ids")
    values = config.get("values")
    ids = [ids] if isinstance(ids, str) else list(ids)
    values = [values] if isinstance(values, str) else list(values)
    return df.unpivot(
        ids, values, config.get("variable_column", "variable"), config.get("value_column", "value")
    )
