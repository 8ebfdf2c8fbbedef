"""window.apply — stream/batch windowing (tumbling/sliding/session).

Reference: src/modules/transforms/window.rs:29-79 + src/core/
streaming.rs:75-135 — COUNT-based tumbling (`ready_chunks(size)`);
the reference's sliding falls back to tumbling-of-slide (TODO,
streaming.rs:113-127) and session is a pass-through stub (:128-133).
We implement REAL sliding count windows (overlapping membership via
a per-row window-id explode) and real sessions — strictly better
than the reference on both.

Spark-first: time-based windows are the idiomatic form —
``F.window(ts, size[, slide])`` and ``F.session_window(ts, gap)``
work in batch AND Structured Streaming (streaming pairs them with
watermarks — see conveyor_spark.streaming). We implement both the
reference's count-based semantics (batch: row_number over an explicit
order / partition-local) and the time-based extension it lacked.

Output: adds ``window_id`` (count-based) or ``window_start``/
``window_end`` (time/session) columns; follow with groupby.apply to
aggregate per window (= reference's window.apply -> aggregate.stream
chain, aggregate_stream.rs:288-299).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


@register(
    "window.apply", kind="transform", streaming_capable=True,
    doc="Assign window ids (count/time/session)",
    params=[
        P("type", default="tumbling",
          allowed=("count", "tumbling", "sliding", "session"), desc="Window kind"),
        P("size", "any", desc="Window size: row count (count) or duration string"),
        P("slide", desc="Slide duration (sliding windows)"),
        P("gap", desc="Inactivity gap duration (session windows)"),
        P("time_column", desc="Event-time column (time/session windows)"),
        P("order_by", "array", desc="Row ordering (count windows)"),
        P("partition_by", "array", desc="Per-key windows (count/session)"),
    ],
    example={"type": "tumbling", "time_column": "ts", "size": "1 hour"},
    tags=["window", "time"],
)
def window_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    wtype = config.get("type", "tumbling")
    time_column = config.get("time_column")

    if wtype == "session":
        # Batch sessionization via lag + running sum (a projection-level
        # F.session_window would not merge rows — merging only happens
        # inside groupBy). New session starts when the time since the
        # previous row >= gap. One shuffle on partition_by.
        gap = config.get("gap")
        if not time_column or gap is None:
            raise ConfigError("window.apply session requires 'time_column' and 'gap' (seconds)")
        gap_s = float(gap)
        partition_by = config.get("partition_by") or []
        partition_by = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        extra_order = config.get("order_by") or []
        extra_order = [extra_order] if isinstance(extra_order, str) else list(extra_order)
        w_ord = (
            Window.partitionBy(*partition_by) if partition_by else Window.partitionBy()
        ).orderBy(time_column, *extra_order)
        ts = F.col(time_column).cast("double")
        prev = F.lag(ts).over(w_ord)
        new_session = F.when(prev.isNull() | (ts - prev >= gap_s), F.lit(1)).otherwise(F.lit(0))
        out = df.withColumn("__sid", F.sum(new_session).over(w_ord))
        w_sess = Window.partitionBy(*partition_by, "__sid")
        return (
            out.withColumn("window_start", F.min(time_column).over(w_sess))
            .withColumn("window_end", F.max(time_column).over(w_sess))
            .drop("__sid")
        )

    size = config.get("size")
    if size is None:
        raise ConfigError("window.apply requires 'size'")

    if time_column:
        # time-based (extension; reference is count-only)
        size_expr = f"{int(size)} seconds" if isinstance(size, (int, float)) else str(size)
        slide = config.get("slide")
        if wtype == "sliding" and slide is not None:
            slide_expr = f"{int(slide)} seconds" if isinstance(slide, (int, float)) else str(slide)
            win = F.window(F.col(time_column), size_expr, slide_expr)
        else:
            win = F.window(F.col(time_column), size_expr)
        return df.withColumn("__w", win).select(
            "*", F.col("__w.start").alias("window_start"), F.col("__w.end").alias("window_end")
        ).drop("__w")

    # count-based (reference parity). Needs an order; reference uses
    # arrival order which distributed data doesn't have.
    order_by = config.get("order_by")
    if not order_by:
        raise ConfigError(
            "count-based window.apply requires 'order_by' (reference relies on "
            "single-node arrival order, core/streaming.rs:75-135)"
        )
    n = int(size)
    cols = [order_by] if isinstance(order_by, str) else list(order_by)
    # Two-phase global index — NOT Window.orderBy (which would move
    # every row to one task; see transforms/global_index.py).
    from conveyor_spark.transforms.global_index import global_sequence

    seq = global_sequence(df, cols, "__gseq")
    if wtype == "sliding":
        # REAL sliding count windows (the reference TODO'd this into a
        # tumbling-of-slide fallback, core/streaming.rs:113-127; we are
        # strictly better, like we are for sessions). Window w covers
        # rows [w*slide, w*slide + size); a row at index i belongs to
        # every w in [ceil((i-size+1)/slide), i div slide], so each row
        # explodes into ~size/slide window memberships — map-side only,
        # no extra shuffle beyond the global-index pass. Integer-only
        # math: ceil(a/s) = (a+s-1) div s for a>0, and negatives clamp
        # to window 0. slide > size (sampling windows with gaps) drops
        # the rows that fall between windows.
        s = int(config.get("slide", n))
        if s < 1:
            raise ConfigError("window.apply sliding: slide must be >= 1")
        zero = F.lit(0).cast("bigint")
        lo = F.greatest(zero, F.expr(f"(__gseq - {n} + {s}) div {s}"))
        hi = F.expr(f"__gseq div {s}")
        wins = F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<bigint>")
        )
        return seq.withColumn("window_id", F.explode(wins)).drop("__gseq")
    return seq.withColumn("window_id", F.floor(F.col("__gseq") / n)).drop("__gseq")


@register(
    "window.rollup", kind="transform", doc="Multi-granularity time rollup in one pass",
    params=[
        P("time_column", required=True, desc="Event-time column"),
        P("granularities", "array", required=True,
          desc="Subset of minute/hour/day/week/month/quarter/year"),
        P("aggregations", "array", required=True,
          desc="[{column, operation, alias?}]"),
        P("group_by", "array", desc="Extra grouping column(s)"),
    ],
    example={"time_column": "ts", "granularities": ["hour", "day"],
             "aggregations": [{"column": "value", "operation": "sum", "alias": "total"}]},
    tags=["window", "time", "rollup"],
)
def window_rollup(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Hypertable-style continuous-aggregate batch: the same measures
    at SEVERAL time granularities (hour + day + week...) computed in
    ONE job — each row map-side explodes to (granularity, bucket)
    pairs and a single partial-aggregated groupBy produces every
    level; no per-granularity rescans, no union of jobs.

    Config: ``time_column`` (required), ``granularities`` (list of
    date_trunc units: minute/hour/day/week/month/year; required),
    ``aggregations`` (groupby.apply vocabulary), ``group_by``
    (optional extra keys). Output: (granularity, bucket_start,
    keys..., aggs...).
    """
    from conveyor_spark.transforms.group_by import build_agg

    df = inputs[0]
    tcol = config.get("time_column")
    grans = config.get("granularities")
    aggs = config.get("aggregations")
    allowed = {"minute", "hour", "day", "week", "month", "quarter", "year"}
    grans = [str(g).lower() for g in grans]
    bad = [g for g in grans if g not in allowed]
    if bad:
        raise ConfigError(f"window.rollup: unknown granularities {bad}; allowed {sorted(allowed)}")
    keys = config.get("group_by") or []
    keys = [keys] if isinstance(keys, str) else list(keys)

    levels = F.array(*[
        F.struct(
            F.lit(g).alias("granularity"),
            F.date_trunc(g, F.col(tcol)).alias("bucket_start"),
        )
        for g in grans
    ])
    exploded = df.select(F.explode(levels).alias("__lvl"), "*").select(
        F.col("__lvl.granularity").alias("granularity"),
        F.col("__lvl.bucket_start").alias("bucket_start"),
        *[c for c in df.columns],
    )
    exprs = []
    for a in aggs:
        col, op = a["column"], a["operation"]
        out = a.get("output_column") or a.get("alias") or f"{col}_{op}"
        exprs.append(build_agg(col, op, a.get("order_by")).alias(out))
    return exploded.groupBy("granularity", "bucket_start", *keys).agg(*exprs)
