"""`stream.funnel` — stateful first-touch funnel over a stream.

The streaming twin of event.funnel (datapipe/funnel.py): per-user
(steps_done, first_ts, last_ts) state carried across micro-batches
via ``applyInPandasWithState``, so a user who viewed yesterday and
purchased today converts without any batch re-scan. Emits each
user's CURRENT progress whenever a batch touches them (update
semantics) — a downstream filter on converted=true feeds alerts.

Ordering caveat (inherent to streaming funnels): events are folded
in event-time order WITHIN each micro-batch (sorted before the
fold), but a later batch appends after an earlier one — late events
that should have slotted between two already-processed steps can't
rewind the state machine. With in-order sources (or one availableNow
drain of a static file = one perfectly-sorted batch) the result is
EXACTLY the batch funnel, which is how the oracle value-checks it.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.streaming.ops import STATE_PARTITIONS_PARAM


@register(
    "stream.funnel", kind="transform", streaming_capable=True,
    doc="Stateful first-touch funnel across micro-batches",
    params=[
        P("steps", "array", required=True, desc="Ordered event types (>=2)"),
        P("by", "array", required=True, desc="Entity key column(s)"),
        P("type_column", default="event_type", desc="Event-type column"),
        P("ts_column", default="ts", desc="Event-time column"),
        P("within_seconds", "float", min=0,
          desc="Max seconds from first step to completion"),
        STATE_PARTITIONS_PARAM,
    ],
    example={"steps": ["view", "click", "purchase"], "by": ["user_id"]},
    tags=["streaming", "funnel", "stateful"],
)
def stream_funnel(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Config mirrors event.funnel: ``steps`` (>=2), ``by``,
    ``type_column`` (default "event_type"), ``ts_column`` (default
    "ts"), ``within_seconds`` (optional first-touch window)."""
    from conveyor_spark.streaming.ops import request_state_partitions

    request_state_partitions(ctx, config, "stream.funnel")
    sdf = inputs[0]
    steps = config.get("steps")
    by = config.get("by")
    if len(steps) < 2:
        raise ConfigError("stream.funnel requires 'steps' (>=2)")
    steps = [str(s) for s in steps]
    type_col = config.get("type_column", "event_type")
    ts_col = config.get("ts_column", "ts")
    within = config.get("within_seconds")
    within_us = None if within is None else int(float(within) * 1_000_000)
    k = len(steps)

    if not sdf.isStreaming:
        raise ConfigError(
            "stream.funnel is the streaming path; use event.funnel for "
            "batch DataFrames"
        )
    # declared type is array — accept both the list form and the bare
    # string, and key state on EVERY entity column
    bys = [by] if isinstance(by, str) else list(by)
    key_fields = [sdf.schema[b] for b in bys]
    evs = sdf.filter(F.col(type_col).isin(steps)).select(
        *[F.col(b) for b in bys],
        F.unix_micros(F.col(ts_col)).alias("__us"),
        F.col(type_col).cast("string").alias("__et"),
    ).filter(F.col("__us").isNotNull())
    # (null timestamps are unorderable — dropped, matching the batch
    # funnel where a null-us struct can never satisfy `us > tp`; a
    # NaN reaching int() would otherwise kill the streaming query)
    out_schema = T.StructType(
        [
            *key_fields,
            T.StructField("steps_completed", T.IntegerType()),
            T.StructField("converted", T.BooleanType()),
            T.StructField("first_ts", T.TimestampType()),
            T.StructField("last_ts", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("done", T.LongType()),
            T.StructField("t0", T.LongType()),
            T.StructField("tp", T.LongType()),
        ]
    )

    def update(key, pdfs: Iterator, state: GroupState) -> Iterator:
        import datetime as dt

        import pandas as pd

        done, t0, tp = state.get if state.exists else (0, 0, 0)
        # Gather the key's WHOLE micro-batch before sorting: pdfs is
        # an iterator of Arrow chunks (~10k rows each), and a
        # chunk-local sort folds cross-chunk events out of event-time
        # order — the strict `us > tp` chain then silently misses
        # conversions for any key with more rows than one chunk.
        events: list[tuple] = []
        for pdf in pdfs:
            events.extend(zip(pdf["__us"], pdf["__et"]))
        touched = bool(events)
        for us, et in sorted(events):
            us = int(us)
            if done == 0:
                if et == steps[0]:
                    done, t0, tp = 1, us, us
            elif done < k and et == steps[done] and us > tp and (
                within_us is None or us <= t0 + within_us
            ):
                done += 1
                tp = us
        state.update((done, t0, tp))
        if touched and done >= 1:
            # tz-aware UTC epoch: naive datetimes would be re-read in the
            # session timezone, silently shifting first/last_ts whenever
            # spark.sql.session.timeZone isn't UTC (the batch event.funnel
            # uses timestamp_micros, which is tz-safe — this must match it)
            epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
            yield pd.DataFrame(
                {
                    **{f.name: [key[i]] for i, f in enumerate(key_fields)},
                    "steps_completed": [done],
                    "converted": [done == k],
                    "first_ts": [epoch + dt.timedelta(microseconds=t0)],
                    "last_ts": [epoch + dt.timedelta(microseconds=tp)],
                }
            )

    return evs.groupBy(*bys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
