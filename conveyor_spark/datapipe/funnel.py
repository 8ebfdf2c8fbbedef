"""`event.funnel` — first-touch funnel analysis over an event log.

The product-analytics primitive ("view -> click -> purchase within
7 days"): for each user, how far along an ordered step sequence did
they get, anchored at their FIRST occurrence of step 1 (first-touch
attribution — the window and the chain both start there; a later
retry that would have converted does not count, which is the
standard, explainable semantic).

Scale design: ONE shuffle — events are filtered to the step types
(predicate pushes into the scan), grouped by user, and the per-user
event list is sorted and folded by a single JVM ``aggregate()``
higher-order expression carrying (steps_done, first_ts, last_ts) —
no iterative joins, no per-step shuffles, no Python. A user's
*step-type* events must fit in one task (true for any real user;
a bot with 10^8 events is a data-quality problem upstream —
cap with topk.apply/sample.balanced first if needed).

Greedy earliest-match is optimal for subsequence containment, so
"earliest event advancing the chain" finds a completion whenever one
exists within the first-touch window.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


@register(
    "sessionize.assign", kind="transform",
    doc="Label each event with a per-user session id",
    params=[
        P("by", "array", required=True, desc="Entity key column(s)"),
        P("gap_seconds", "float", required=True, min=0, desc="Inactivity gap"),
        P("ts_column", default="ts", desc="Event-time column"),
        P("output_column", default="session_id", desc="Session id column"),
        P("global_id", "boolean", default=False,
          desc="Hash a globally-unique session id instead of a per-key ordinal"),
    ],
    example={"by": ["user_id"], "gap_seconds": 1800},
    tags=["analytics", "session", "datapipe"],
)
def sessionize_assign(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Gap-based sessionization that KEEPS the events: every row gets
    its user's session index (0, 1, 2, ... in time order), a new
    session starting when the gap since the previous event exceeds
    ``gap_seconds``. window.apply's session mode aggregates sessions
    away; this is the per-event labeling that funnel/feature
    pipelines join against.

    Config: ``by`` (user column), ``ts_column`` (default "ts"),
    ``gap_seconds`` (required), ``output_column`` (default
    "session_id"), ``global_id`` (default false: emit
    "<user>#<index>" strings instead of per-user ints).

    Scale: ONE shuffle — a keyed window (lag for the gap flag, then a
    running sum of flags). Ties at identical timestamps share a
    session regardless of intra-tie order (gap 0), so the labeling is
    partition-invariant.
    """
    df = inputs[0]
    by = config.get("by")
    gap = config.get("gap_seconds")
    gap_us = int(float(gap) * 1_000_000)
    if gap_us <= 0:
        raise ConfigError("sessionize.assign: gap_seconds must be > 0")
    ts_col = config.get("ts_column", "ts")
    out_col = config.get("output_column", "session_id")

    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(by).orderBy(us)
    prev = F.lag(us).over(w)
    boundary = F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0)
    # RANGE frame, not ROWS: tied timestamps must all see the same
    # cumulative boundary count (a ROWS frame would split ties by the
    # nondeterministic intra-tie order)
    run = Window.partitionBy(by).orderBy(us).rangeBetween(Window.unboundedPreceding, 0)
    idx = (F.sum(boundary).over(run) - F.lit(1)).cast("bigint")
    if config.get("global_id", False):
        # 'by' is declared array — join all key columns into the id
        bys = [by] if isinstance(by, str) else list(by)
        key_str = F.concat_ws(
            "|", *[F.col(b).cast("string") for b in bys]
        )
        sid = F.concat(key_str, F.lit("#"), idx.cast("string"))
    else:
        sid = idx
    return df.withColumn(out_col, sid)


@register(
    "retention.cohort", kind="transform",
    doc="Cohort retention matrix from an event log",
    params=[
        P("by", "array", required=True, desc="Entity key column(s)"),
        P("interval_seconds", "float", required=True, min=1,
          desc="Cohort/period width (e.g. 86400 = daily)"),
        P("ts_column", default="ts", desc="Event-time column"),
        P("max_periods", "integer", min=1, desc="Cap on periods since cohort"),
    ],
    example={"by": ["user_id"], "interval_seconds": 86400},
    tags=["analytics", "retention", "datapipe"],
)
def retention_cohort(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Classic retention triangle: users cohorted by the period of
    their first activity; each later period counts how many came
    back.

    Config: ``by`` (user column), ``ts_column`` (default "ts"),
    ``interval_seconds`` (cohort granularity, e.g. 604800 for weekly),
    ``max_periods`` (optional cap on the offset).

    Output: ``cohort_ts`` (cohort period start), ``period`` (int
    offset, 0 = the cohort period itself), ``active_users``,
    ``cohort_size``, ``retention`` (active/size — integer-division
    double, bit-exact cross-engine).

    Scale: ONE shuffle grain dominates — events shuffle by user for
    the first-activity window (no join back), then (cohort, period,
    user) distinct + count aggregate on far smaller data. Counts are
    exact distincts, not sketches; for quick interactive runs over
    10^10 users swap in approx.count_distinct upstream.
    """
    df = inputs[0]
    by = config.get("by")
    interval = config.get("interval_seconds")
    ts_col = config.get("ts_column", "ts")
    interval_us = int(float(interval) * 1_000_000)
    if interval_us <= 0:
        raise ConfigError("retention.cohort: interval_seconds must be > 0")
    max_periods = config.get("max_periods")

    from pyspark.sql import Window

    bys = [by] if isinstance(by, str) else list(by)  # declared array
    bkt = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(interval_us))
    w = Window.partitionBy(*bys)
    marked = df.select(*[F.col(b) for b in bys], bkt.alias("__bkt")).withColumn(
        "__cohort", F.min("__bkt").over(w)
    )
    periods = (
        marked.select(
            "__cohort", (F.col("__bkt") - F.col("__cohort")).alias("period"),
            *[F.col(b) for b in bys],
        )
        .distinct()
    )
    if max_periods is not None:
        periods = periods.filter(F.col("period") <= int(max_periods))
    counts = periods.groupBy("__cohort", "period").agg(
        F.count(F.lit(1)).alias("active_users")
    )
    sizes = counts.filter(F.col("period") == 0).select(
        "__cohort", F.col("active_users").alias("cohort_size")
    )
    return (
        counts.join(F.broadcast(sizes), "__cohort")
        .select(
            F.timestamp_micros(F.col("__cohort") * F.lit(interval_us)).alias("cohort_ts"),
            F.col("period").cast("int").alias("period"),
            "active_users",
            "cohort_size",
            (F.col("active_users").cast("double") / F.col("cohort_size").cast("double")
             ).alias("retention"),
        )
    )


@register(
    "event.funnel", kind="transform", doc="First-touch funnel: per-user step progress",
    params=[
        P("steps", "array", required=True, desc="Ordered event types (>=2)"),
        P("by", "array", required=True, desc="Entity key column(s)"),
        P("type_column", default="event_type", desc="Event-type column"),
        P("ts_column", default="ts", desc="Event-time column"),
        P("within_seconds", "float", min=0,
          desc="Max seconds from first step to completion"),
        P("include_incomplete", "boolean", default=True,
          desc="Emit entities that never reached step 1"),
    ],
    example={"steps": ["view", "click", "purchase"], "by": ["user_id"]},
    tags=["analytics", "funnel", "datapipe"],
)
def event_funnel(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Config: ``steps`` (ordered event-type list, >= 2), ``by``
    (user/group column), ``type_column`` (default "event_type"),
    ``ts_column`` (default "ts"), ``within_seconds`` (optional cap on
    last_step_ts - first_step_ts), ``include_incomplete`` (default
    true: emit users who started but didn't finish; false: converted
    users only).

    Output: one row per user that reached step 1 — ``by`` column,
    ``steps_completed`` (int), ``converted`` (bool), ``first_ts`` /
    ``last_ts`` (timestamps of the matched chain's ends).

    Chain rule: step i+1 must be STRICTLY later than step i and (if
    ``within_seconds``) within the window opened by the first step.
    Ties at identical timestamps break by event-type string order
    (the sort key), so results are partition-invariant.
    """
    df = inputs[0]
    steps = config.get("steps")
    by = config.get("by")
    if len(steps) < 2:
        raise ConfigError("event.funnel requires 'steps' (>=2)")
    type_col = config.get("type_column", "event_type")
    ts_col = config.get("ts_column", "ts")
    within = config.get("within_seconds")
    within_us = None if within is None else int(float(within) * 1_000_000)
    k = len(steps)

    bys = [by] if isinstance(by, str) else list(by)  # declared array
    evs = (
        df.filter(F.col(type_col).isin(list(steps)))
        .select(
            *[F.col(b) for b in bys],
            F.struct(
                F.unix_micros(F.col(ts_col)).alias("us"),
                F.col(type_col).cast("string").alias("et"),
            ).alias("ev"),
        )
    )
    per_user = evs.groupBy(*bys).agg(F.array_sort(F.collect_list("ev")).alias("seq"))

    steps_arr = F.array(*[F.lit(s) for s in steps])
    zero = F.struct(
        F.lit(0).alias("done"),
        F.lit(None).cast("bigint").alias("t0"),
        F.lit(None).cast("bigint").alias("tp"),
    )

    def step_fold(acc, ev):
        starts = (acc["done"] == 0) & (ev["et"] == F.element_at(steps_arr, 1))
        advances = (
            (acc["done"] > 0)
            & (acc["done"] < k)
            & (ev["et"] == F.element_at(steps_arr, acc["done"] + 1))
            & (ev["us"] > acc["tp"])
        )
        if within_us is not None:
            advances = advances & (ev["us"] <= acc["t0"] + F.lit(within_us))
        return (
            F.when(
                starts,
                F.struct(
                    F.lit(1).alias("done"),
                    ev["us"].alias("t0"),
                    ev["us"].alias("tp"),
                ),
            )
            .when(
                advances,
                F.struct(
                    (acc["done"] + 1).alias("done"),
                    acc["t0"].alias("t0"),
                    ev["us"].alias("tp"),
                ),
            )
            .otherwise(acc)
        )

    state = F.aggregate(F.col("seq"), zero, step_fold)
    out = (
        per_user.withColumn("__st", state)
        .select(
            *[F.col(b) for b in bys],
            F.col("__st.done").alias("steps_completed"),
            (F.col("__st.done") == k).alias("converted"),
            F.timestamp_micros(F.col("__st.t0")).alias("first_ts"),
            F.timestamp_micros(F.col("__st.tp")).alias("last_ts"),
        )
        .filter(F.col("steps_completed") >= 1)
    )
    if not config.get("include_incomplete", True):
        out = out.filter(F.col("converted"))
    return out
