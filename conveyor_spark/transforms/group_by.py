"""groupby.apply — SQL GROUP BY with named aggregations.

Reference: src/modules/transforms/group_by.rs:87-170 — group cols +
list of {column, operation, output_column}; ops sum, avg/mean, count,
min, max, median, std, var, first, last (std/var ddof=1).

Spark-first: one hash-aggregate with partial (map-side) combine —
Catalyst splits partial/final automatically, so the shuffle carries
pre-aggregated state, not rows. first/last are order-dependent in a
distributed engine: we require/accept an ``order_by`` per-agg key and
compile to min_by/max_by (deterministic), falling back to
F.first/F.last (non-deterministic, flagged) when absent.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, as_list, register


def build_agg(
    column: str, operation: str, order_by: str | list | None = None,
    p: float | None = None,
) -> Column:
    """Build one aggregate expression (op vocabulary: group_by.rs:142-157).

    ``order_by`` accepts a column name or a LIST of names (the
    declared param type); multiple columns order lexicographically
    via a struct."""
    if isinstance(order_by, (list, tuple)):
        if not order_by:
            order_by = None
        elif len(order_by) == 1:
            order_by = F.col(order_by[0])
        else:
            order_by = F.struct(*[F.col(x) for x in order_by])
    elif isinstance(order_by, str):
        order_by = F.col(order_by)
    c = F.col(column)
    op = operation.lower()
    if op == "percentile":
        # exact interpolated percentile (sort-based); the approx
        # sketch lives in approx.quantiles
        if p is None or not (0.0 <= float(p) <= 1.0):
            raise ConfigError(
                f"groupby.apply: percentile needs 'p' in [0,1], got {p!r}"
            )
        return F.percentile(c, F.lit(float(p)))
    if op == "approx_percentile":
        # sketch path: fixed memory per group at any scale (vs the
        # exact sort); accuracy 1/10000 relative error
        if p is None or not (0.0 <= float(p) <= 1.0):
            raise ConfigError(
                f"groupby.apply: approx_percentile needs 'p' in [0,1], got {p!r}"
            )
        return F.percentile_approx(c, F.lit(float(p)), F.lit(10000))
    if op == "sum":
        return F.sum(c)
    if op in ("avg", "mean"):
        return F.avg(c)
    if op == "count":
        return F.count(c)
    if op == "min":
        return F.min(c)
    if op == "max":
        return F.max(c)
    if op == "median":
        return F.median(c)
    if op in ("std", "stddev"):
        return F.stddev_samp(c)  # ddof=1, matches reference
    if op in ("var", "variance"):
        return F.var_samp(c)
    if op == "first":
        return F.min_by(c, order_by) if order_by is not None else F.first(c)
    if op == "last":
        return F.max_by(c, order_by) if order_by is not None else F.last(c)
    if op == "count_distinct":
        return F.countDistinct(c)
    if op == "approx_count_distinct":
        return F.approx_count_distinct(c)
    if op == "collect_list":
        return F.collect_list(c)
    if op == "collect_set":
        return F.collect_set(c)
    raise ConfigError(f"groupby.apply: unknown operation {operation!r}")


@register(
    "groupby.apply", kind="transform", streaming_capable=True,
    doc="GROUP BY with aggregations",
    params=[
        P("by", "array", required=True, desc="Grouping column(s)"),
        P("aggregations", "array", required=True,
          desc="[{column, operation, output_column?, p?, order_by?}] — ops: "
               "count, sum, avg/mean, min, max, median, std, var, first, "
               "last, collect_list, collect_set, count_distinct, "
               "approx_count_distinct, percentile, approx_percentile"),
        P("grouping", default="groups", allowed=("groups", "rollup", "cube"),
          desc="Plain GROUP BY vs ROLLUP/CUBE supersets"),
    ],
    example={"by": ["region"],
             "aggregations": [{"column": "amount", "operation": "sum", "alias": "total"}]},
    tags=["aggregate", "relational"],
)
def groupby_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """``grouping`` extends the reference surface: "groups" (default,
    plain GROUP BY), "rollup", or "cube" — hierarchical/multi-dim
    subtotals in ONE pass (Catalyst expands the grouping sets before
    the hash aggregate; still a single shuffle with map-side
    partials, not one job per level)."""
    df = inputs[0]
    by = config.get("by")
    aggs = config.get("aggregations")
    grouping = config.get("grouping", "groups")
    exprs = []
    for a in aggs:
        col, op = a["column"], a["operation"]
        # 'alias' is the spelling the registered examples and the
        # reference docs use; 'output_column' is the engine-wide key
        out = a.get("output_column") or a.get("alias") or f"{col}_{op}"
        exprs.append(build_agg(col, op, a.get("order_by"), a.get("p")).alias(out))
    cols = as_list(by)
    if grouping == "groups":
        grouped = df.groupBy(*cols)
    elif grouping == "rollup":
        grouped = df.rollup(*cols)
    elif grouping == "cube":
        grouped = df.cube(*cols)
    else:
        raise ConfigError("groupby.apply: grouping must be groups|rollup|cube")
    return grouped.agg(*exprs)
