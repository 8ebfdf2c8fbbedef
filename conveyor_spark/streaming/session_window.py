"""stream.session_window — stateful sessions with CUSTOM close rules.

Spark's native ``session_window`` handles plain gap-based sessions
(used by window.apply / windowed_aggregate, q24/q40). This operator
covers the session semantics the native one cannot express: a
session also closes when it hits ``max_rows`` events or spans more
than ``max_duration`` seconds — the "cap runaway sessions" rule real
clickstream pipelines need (a bot hammering events every second
otherwise keeps one session open forever).

``applyInPandasWithState`` keeps per-key (session_id, start_us,
last_us, n_rows) state across micro-batches (same contract as
stream.count_window). Emits update rows per batch:
(key..., session_id, start_ts, end_ts, n_rows, closed); filter
closed=true downstream for completed sessions only.

Sessions are per-key sequential by nature; a grouping key is
required (constant key = global sessions, documented trade-off).
Within a batch rows are processed in event-time order; a cross-batch
late event (before the open session's last timestamp) extends the
open session rather than reopening a closed one — bound lateness
upstream with withWatermark + stream.dedup if exact late handling
matters.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.streaming.ops import STATE_PARTITIONS_PARAM


def session_assign(
    sdf: DataFrame,
    key_columns: list[str],
    ts_column: str,
    gap_seconds: float,
    max_rows: int | None = None,
    max_duration: float | None = None,
) -> DataFrame:
    if not key_columns:
        raise ConfigError("stream.session_window requires key_columns")
    if gap_seconds <= 0:
        raise ConfigError("stream.session_window: gap must be > 0 seconds")
    if max_rows is not None and int(max_rows) < 1:
        raise ConfigError("stream.session_window: max_rows must be >= 1")
    if max_duration is not None and float(max_duration) <= 0:
        raise ConfigError("stream.session_window: max_duration must be > 0 seconds")
    key_fields = [sdf.schema[k] for k in key_columns]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("session_id", T.LongType()),
            T.StructField("start_ts", T.TimestampType()),
            T.StructField("end_ts", T.TimestampType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("closed", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("session_id", T.LongType()),
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n_rows", T.LongType()),
        ]
    )
    gap_us = int(gap_seconds * 1_000_000)
    dur_us = int(max_duration * 1_000_000) if max_duration is not None else None
    cap_rows = int(max_rows) if max_rows is not None else None

    # EPOCH micros computed JVM-side (unix_micros), not pandas
    # wall-clock .value: Arrow hands pandas the session-timezone
    # wall-clock, so gap arithmetic there distorts across DST jumps
    # and NULL timestamps become NaT (INT64_MIN garbage). Same
    # tz-safe contract as stream.funnel; null timestamps are dropped
    # (unorderable).
    from pyspark.sql import functions as F

    src = sdf.select(
        *key_columns, F.unix_micros(F.col(ts_column)).alias("__us")
    ).filter(F.col("__us").isNotNull())

    def assign(key, pdfs: Iterator, state: GroupState) -> Iterator:
        import datetime as dt

        import pandas as pd

        if state.exists:
            session_id, start_us, last_us, n_rows = state.get
        else:
            session_id, start_us, last_us, n_rows = 0, None, None, 0
        out: list[list] = []
        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)

        def emit(closed: bool) -> None:
            out.append(
                list(key)
                + [
                    session_id,
                    epoch + dt.timedelta(microseconds=start_us),
                    epoch + dt.timedelta(microseconds=last_us),
                    n_rows,
                    closed,
                ]
            )

        # gather the key's WHOLE micro-batch before sorting — pdfs is
        # an iterator of Arrow chunks, and a chunk-local sort folds
        # cross-chunk events out of event-time order (wrong session
        # starts/splits for keys with more rows than one chunk)
        times: list[int] = []
        for pdf in pdfs:
            times.extend(int(v) for v in pdf["__us"])
        for t in sorted(times):
            if start_us is None:
                start_us, last_us, n_rows = t, t, 1
                continue
            gap_break = t - last_us > gap_us
            row_break = cap_rows is not None and n_rows >= cap_rows
            dur_break = dur_us is not None and t - start_us > dur_us
            if gap_break or row_break or dur_break:
                emit(True)
                session_id += 1
                start_us, last_us, n_rows = t, t, 1
            else:
                last_us = max(last_us, t)
                n_rows += 1
        if start_us is not None:
            emit(False)  # the still-open session's current shape
        state.update((session_id, start_us, last_us, n_rows))
        yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return src.groupBy(*key_columns).applyInPandasWithState(
        assign, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


@register(
    "stream.session_window", kind="transform", min_inputs=1, max_inputs=1,
    streaming_capable=True,
    doc="Stateful sessions with gap + row/duration caps (streaming)",
    params=[
        P("gap", "any", required=True, desc="Inactivity gap (seconds or duration)"),
        P("group_by", "array",
          desc="Session key column(s) (this or key_columns is required)"),
        P("ts_column", default="ts", desc="Event-time column"),
        P("max_rows", "integer", min=1, desc="Force-close after N rows"),
        P("max_duration", "any", desc="Force-close after this session length"),
        P("key_columns", "array",
          desc="Alias for group_by (the state/grouping key)"),
        STATE_PARTITIONS_PARAM,
    ],
    example={"gap": 1800, "group_by": ["user_id"]},
    tags=["streaming", "session", "stateful"],
)
def stream_session_window(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    from conveyor_spark.streaming.ops import request_state_partitions

    request_state_partitions(ctx, config, "stream.session_window")
    sdf = inputs[0]
    if not sdf.isStreaming:
        raise ConfigError(
            "stream.session_window is the streaming path; use window.apply "
            "type=session (native session_window) for batch DataFrames"
        )
    keys = config.get("key_columns") or config.get("group_by")
    ts_column = config.get("ts_column", "ts")
    gap = config.get("gap")
    if not keys:
        raise ConfigError("stream.session_window requires 'key_columns'")
    keys = [keys] if isinstance(keys, str) else list(keys)
    max_rows = config.get("max_rows")
    max_duration = config.get("max_duration")
    from conveyor_spark.durations import parse_duration_seconds

    return session_assign(
        sdf, keys, ts_column,
        parse_duration_seconds(gap, "stream.session_window gap"),
        max_rows=None if max_rows is None else int(max_rows),
        max_duration=None if max_duration is None else parse_duration_seconds(
            max_duration, "stream.session_window max_duration"
        ),
    )
