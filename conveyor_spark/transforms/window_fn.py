"""window.function — analytic/ranking window functions.

The reference has no window functions (SURVEY §2.5) — this is a
Spark-freebie extension: row_number, rank, dense_rank, percent_rank,
ntile, lag, lead, plus any aggregate over a frame.

Scale note: a window partitionBy is one shuffle on the partition
keys; an *unpartitioned* ordered window collapses to a single task —
we refuse it unless ``allow_unpartitioned`` is set.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, as_list, register

_RANKERS = {
    "row_number": lambda _: F.row_number(),
    "rank": lambda _: F.rank(),
    "dense_rank": lambda _: F.dense_rank(),
    "percent_rank": lambda _: F.percent_rank(),
    "cume_dist": lambda _: F.cume_dist(),
}


def build_window(config: dict[str, Any]) -> WindowSpec:
    partition_by = config.get("partition_by")
    order_by = config.get("order_by")
    if not partition_by and not config.get("allow_unpartitioned"):
        raise ConfigError(
            "window.function without partition_by serializes all data through one "
            "task; set allow_unpartitioned=true to force"
        )
    w = Window.partitionBy(*as_list(partition_by)) if partition_by else Window.partitionBy()
    if order_by:
        cols = []
        descending = config.get("descending", False)
        desc_list = as_list(descending) if isinstance(descending, list) else None
        for i, c in enumerate(as_list(order_by)):
            d = desc_list[i] if desc_list else descending
            cols.append(F.col(c).desc() if d else F.col(c).asc())
        w = w.orderBy(*cols)
    if frame := config.get("rows_between"):
        def bound(v, unbounded: int, side: str) -> int:
            # TOML arrays cannot hold null, so the spellable forms are
            # strings: "unbounded" / "current" (or a row offset)
            if v is None:
                return unbounded
            if isinstance(v, str):
                s = v.strip().lower().replace("_", "")
                # direction-explicit aliases only at their matching
                # endpoint — "unbounded_following" as the START bound
                # would silently mean the opposite of what it says
                if s == "unbounded" or (
                    s == "unboundedpreceding" and side == "start"
                ) or (s == "unboundedfollowing" and side == "end"):
                    return unbounded
                if s in ("current", "currentrow"):
                    return Window.currentRow
                try:
                    return int(v)
                except ValueError:
                    raise ConfigError(
                        f"window.function: bad frame {side} bound {v!r} "
                        "(offset, 'unbounded' or 'current')"
                    ) from None
            return int(v)

        w = w.rowsBetween(
            bound(frame[0], Window.unboundedPreceding, "start"),
            bound(frame[1], Window.unboundedFollowing, "end"),
        )
    return w


@register(
    "window.function", kind="transform", doc="Analytic window function column",
    params=[
        P("function", required=True,
          allowed=("row_number", "rank", "dense_rank", "percent_rank", "ntile",
                   "lag", "lead", "cume_dist", "first_value", "last_value",
                   "sum", "avg", "min", "max", "count"),
          desc="Window function"),
        P("output_column", required=True, desc="Result column"),
        P("partition_by", "array",
          desc="Window partition key(s) — REQUIRED at scale (a global window "
               "is single-partition) unless allow_unpartitioned"),
        P("order_by", "array", desc="Window ordering"),
        P("column", desc="Input column (lag/lead/first/last/aggregates)"),
        P("n", "integer", default=4, min=1, desc="ntile bucket count"),
        P("offset", "integer", default=1, desc="lag/lead offset"),
        P("default", "any", desc="lag/lead default value"),
        P("rows_between", "array", desc="Frame [start, end] in rows"),
        P("descending", "boolean", default=False, desc="Order direction"),
        P("allow_unpartitioned", "boolean", default=False,
          desc="Opt in to a global (single-partition) window"),
    ],
    example={"function": "rank", "partition_by": ["region"],
             "order_by": ["amount"], "output_column": "rnk"},
    tags=["window", "analytic"],
)
def window_function(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    fn = config.get("function")
    output_column = config.get("output_column")
    w = build_window(config)
    if fn in _RANKERS:
        col = _RANKERS[fn](None)
    elif fn == "ntile":
        col = F.ntile(int(config.get("n", 4)))
    elif fn in ("lag", "lead"):
        src = config.get("column")
        if not src:
            raise ConfigError(f"window.function {fn} requires 'column'")
        offset = int(config.get("offset", 1))
        col = (F.lag if fn == "lag" else F.lead)(F.col(src), offset, config.get("default"))
    elif fn in ("first_value", "last_value"):
        src = config.get("column")
        if not src:
            raise ConfigError(f"window.function {fn} requires 'column'")
        # SQL-standard semantics, including the standard's famous
        # gotcha: with order_by and no explicit frame, the default
        # frame ends at CURRENT ROW, so last_value returns each row's
        # own value (exactly like Spark SQL's last_value). Pass
        # rows_between: ["unbounded", "unbounded"] for the
        # whole-partition last value.
        col = (F.first if fn == "first_value" else F.last)(F.col(src))
    else:
        # aggregate-over-frame: sum/avg/min/max/count/... on `column`
        from conveyor_spark.transforms.group_by import build_agg

        src = config.get("column")
        if not src:
            raise ConfigError(f"window.function {fn} requires 'column'")
        col = build_agg(src, fn)
    return df.withColumn(output_column, col.over(w))
