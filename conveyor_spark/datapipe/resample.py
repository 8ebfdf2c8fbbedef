"""`time.resample` — regularize an event stream onto a fixed time
grid, with gap filling.

Timeseries prep for feature pipelines and dashboards: "per user,
events bucketed to 6-hour bins, empty bins carried forward". The
window.apply tumbling window aggregates what EXISTS; this op also
materializes the bins that don't (a model consuming a lagged feature
grid needs the empty rows).

Scale design: the aggregation is one shuffle at (keys, bucket)
grain with map-side partial aggregation. The gap grid is generated
per group from its own [min, max] bucket span — sequence() +
explode(), all JVM — and left-joined back at the same grain (equi
join, AQE-planned). Forward fill is a window ordered by bucket
*partitioned by the keys* — never a global-order window. Grid size
is bounded by span/interval per group, not by row count; a group
spanning years at second resolution is a config smell the op can't
fix (pick a coarser interval).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register

_AGGS = {
    "count": lambda c: F.count(c),
    "sum": lambda c: F.sum(c),
    "avg": lambda c: F.avg(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
}


@register(
    "time.resample", kind="transform",
    doc="Bucket events to a fixed grid with gap filling",
    params=[
        P("interval_seconds", "float", required=True, min=0.000001,
          desc="Grid bucket width"),
        P("aggs", "array", required=True,
          desc="[{column, operation, alias?}] per-bucket aggregates"),
        P("ts_column", default="ts", desc="Event-time column"),
        P("by", "array", desc="Per-key grids"),
        P("fill", default="none", allowed=("none", "zero", "ffill"), aliases=("prev",),
          desc="Empty-bucket handling (zero-fill or forward-fill)"),
    ],
    example={"interval_seconds": 3600,
             "aggs": [{"column": "value", "operation": "sum", "alias": "total"}],
             "fill": "zero"},
    tags=["timeseries", "resample", "datapipe"],
)
def time_resample(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Config: ``ts_column`` (default "ts"), ``interval_seconds``
    (required), ``by`` (optional key columns), ``aggs`` (dict
    output_name -> {column, fn[, fill]} with fn in
    count/sum/avg/min/max; default {"n": {"column": ts, "fn":
    "count"}}), ``fill`` = "none" (default: only observed buckets) |
    "zero" (materialize gaps, fill 0) | "prev" (materialize gaps,
    carry the previous observed value forward). A per-agg ``fill``
    overrides the global one (typical grid: count zero-filled, gauge
    carried forward).

    Output: ``by`` columns + ``bucket_ts`` (timestamp of the bin
    start) + one column per agg. Float caveat: sum/avg of doubles is
    shuffle-order dependent (like any distributed float sum) — use
    count/min/max, or DECIMAL inputs, where bit-reproducibility
    matters.
    """
    df = inputs[0]
    ts_col = config.get("ts_column", "ts")
    interval = config.get("interval_seconds")
    interval_us = int(float(interval) * 1_000_000)
    if interval_us <= 0:
        raise ConfigError("time.resample: interval_seconds must be > 0")
    by = config.get("by") or []
    if isinstance(by, str):
        by = [by]
    fill = config.get("fill", "none")
    if fill == "ffill":
        fill = "prev"  # the declared allowed spelling
    aggs = config.get("aggs") or {"n": {"column": ts_col, "fn": "count"}}
    # declared array form [{column, operation, alias?, fill?}]; the
    # dict form {name: {column, fn, fill?}} stays accepted
    if isinstance(aggs, list):
        named: dict[str, Any] = {}
        for spec in aggs:
            fn = str(spec.get("operation") or spec.get("fn") or "count").lower()
            col = spec.get("column", ts_col)
            name = spec.get("alias") or spec.get("output_column") or f"{col}_{fn}"
            named[name] = {"column": col, "fn": fn,
                           **({"fill": spec["fill"]} if "fill" in spec else {})}
        aggs = named
    else:
        # the dict form may also spell the fn as 'operation'
        aggs = {
            name: {**spec, "fn": str(spec.get("operation") or spec.get("fn")
                                     or "count").lower()}
            for name, spec in aggs.items()
        }

    exprs = []
    for name, spec in aggs.items():
        fn = str(spec.get("fn", "count")).lower()
        if fn not in _AGGS:
            raise ConfigError(f"time.resample: unknown agg fn {fn!r}; known: {sorted(_AGGS)}")
        exprs.append(_AGGS[fn](F.col(spec.get("column", ts_col))).alias(name))

    bucket = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(interval_us)).alias("__bkt")
    observed = df.withColumn("__bkt", bucket).groupBy(*by, "__bkt").agg(*exprs)

    fills = {
        name: ("prev" if str(spec.get("fill", fill)) == "ffill"
               else str(spec.get("fill", fill)))
        for name, spec in aggs.items()
    }
    bad = {n: f for n, f in fills.items() if f not in ("none", "zero", "prev")}
    if bad:
        raise ConfigError(f"time.resample: bad per-agg fill {bad}")

    if fill != "none" or any(f != "none" for f in fills.values()):
        if any(f == "prev" for f in fills.values()) and not by:
            raise ConfigError(
                "time.resample: fill='prev' without 'by' needs a global-order "
                "window; add keys or use fill='zero'"
            )
        span = observed.groupBy(*by).agg(
            F.min("__bkt").alias("__lo"), F.max("__bkt").alias("__hi")
        )
        grid = span.select(
            *by, F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("__bkt")
        )
        observed = grid.join(observed, [*by, "__bkt"], "left")
        w = Window.partitionBy(*[F.col(c) for c in by]).orderBy("__bkt") if by else None
        for name, policy in fills.items():
            if policy == "zero":
                observed = observed.withColumn(name, F.coalesce(F.col(name), F.lit(0)))
            elif policy == "prev":
                observed = observed.withColumn(
                    name, F.last(F.col(name), ignorenulls=True).over(w)
                )

    return observed.select(
        *by,
        F.timestamp_micros(F.col("__bkt") * F.lit(interval_us)).alias("bucket_ts"),
        *aggs.keys(),
    )
