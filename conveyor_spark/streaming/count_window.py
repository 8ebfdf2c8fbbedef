"""stream.count_window — COUNT-based tumbling/sliding windows on a
stream.

The reference's window.apply is count-based (`ready_chunks(size)`,
core/streaming.rs:75-135) with no cross-batch state: a window that
straddles two micro-batches is silently split. Spark has no native
count window, so this is the custom stateful operator the survey
flagged (SURVEY §4.2): ``applyInPandasWithState`` keeps a per-key
(window_index, rows_so_far) state, so windows continue seamlessly
across micro-batches — strictly stronger than the reference.

Emits one row per window touched in a batch (update semantics):
(key..., window_id, n_rows, closed). `closed` marks windows that
reached `size`; a downstream filter on closed=true gives
exactly-once-complete windows.

Count windows are inherently per-key sequential: global count
windows over a distributed stream would serialize through one task,
so a grouping key is required (use a constant key for low-volume
global windows, documented trade-off).
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.streaming.ops import STATE_PARTITIONS_PARAM


def count_tumbling(
    sdf: DataFrame,
    key_columns: list[str],
    size: int,
    order_by: str | None = None,
) -> DataFrame:
    if not key_columns:
        raise ConfigError("stream.count_window requires key_columns")
    if size < 1:
        # size=0 would make take=min(size-filled, n-i) permanently 0
        # and spin the executor loop forever
        raise ConfigError(f"stream.count_window: size must be >= 1, got {size}")
    key_fields = [sdf.schema[k] for k in key_columns]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("window_id", T.LongType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("closed", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("window_id", T.LongType()),
            T.StructField("filled", T.LongType()),
        ]
    )

    def assign(key, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        window_id, filled = state.get if state.exists else (0, 0)
        emitted: dict[int, int] = {}
        for pdf in pdfs:
            # no sort: the output is per-window COUNTS, which are
            # invariant under row ordering — order_by is interface
            # parity only (see the param desc)
            n = len(pdf)
            i = 0
            while i < n:
                take = min(size - filled, n - i)
                filled += take
                i += take
                emitted[window_id] = filled
                if filled == size:
                    window_id += 1
                    filled = 0
        state.update((window_id, filled))
        rows = [
            list(key) + [wid, cnt, cnt == size]
            for wid, cnt in sorted(emitted.items())
        ]
        yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return (
        sdf.groupBy(*key_columns)
        .applyInPandasWithState(
            assign, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def count_sliding(
    sdf: DataFrame,
    key_columns: list[str],
    size: int,
    slide: int,
) -> DataFrame:
    """REAL sliding count windows across micro-batches (the reference
    TODO's sliding into tumbling-of-slide, core/streaming.rs:113-127).
    Window w covers per-key rows [w*slide, w*slide + size). The state
    is a single per-key row counter: after c rows, window w holds
    min(size, c - w*slide) rows, so a batch only needs the counter
    before/after to emit every window it touched — state size is O(1)
    per key regardless of overlap factor. Update semantics like the
    tumbling op: one row per touched (key, window) per batch, closed
    once the window reached ``size``."""
    if not key_columns:
        raise ConfigError("stream.count_window requires key_columns")
    if size < 1 or slide < 1:
        raise ConfigError("stream.count_window: size and slide must be >= 1")
    key_fields = [sdf.schema[k] for k in key_columns]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("window_id", T.LongType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("closed", T.BooleanType()),
        ]
    )
    state_schema = T.StructType([T.StructField("rows_seen", T.LongType())])

    def assign(key, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        seen = state.get[0] if state.exists else 0
        start = seen
        for pdf in pdfs:
            seen += len(pdf)
        state.update((seen,))
        rows = []
        if seen > start:
            # windows overlapping the row range [start, seen)
            w_lo = max(0, -(-(start - size + 1) // slide))  # ceil clamped
            w_hi = (seen - 1) // slide
            for w in range(w_lo, w_hi + 1):
                n_rows = min(size, seen - w * slide)
                if n_rows > 0:
                    rows.append(list(key) + [w, n_rows, seen - w * slide >= size])
        yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return (
        sdf.groupBy(*key_columns)
        .applyInPandasWithState(
            assign, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


@register(
    "stream.count_window", kind="transform", min_inputs=1, max_inputs=1,
    streaming_capable=True,
    doc="Stateful count-based tumbling/sliding windows (streaming)",
    params=[
        P("size", "integer", required=True, min=1, desc="Rows per window"),
        P("slide", "integer", min=1,
          desc="Rows between window starts (default: size, i.e. tumbling; "
               "smaller = overlapping sliding windows)"),
        P("key_columns", "array",
          desc="Alias for group_by (the state/grouping key)"),
        P("group_by", "array", desc="Per-key windows (state key)"),
        P("order_by", "array",
          desc="Accepted for interface parity; the emitted per-window "
               "counts are row-order invariant, so no sort runs"),
        STATE_PARTITIONS_PARAM,
    ],
    example={"size": 500, "group_by": ["event_type"], "order_by": ["ts"]},
    tags=["streaming", "window", "stateful"],
)
def stream_count_window(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    from conveyor_spark.streaming.ops import request_state_partitions

    request_state_partitions(ctx, config, "stream.count_window")
    sdf = inputs[0]
    if not sdf.isStreaming:
        raise ConfigError(
            "stream.count_window is the streaming path; use window.apply "
            "(count-based) for batch DataFrames"
        )
    size = config.get("size")
    keys = config.get("key_columns") or config.get("group_by")
    if not keys:
        raise ConfigError("stream.count_window requires 'key_columns'")
    keys = [keys] if isinstance(keys, str) else list(keys)
    slide = config.get("slide")
    if slide is not None and int(slide) != int(size):
        return count_sliding(sdf, keys, int(size), int(slide))
    return count_tumbling(sdf, keys, int(size), config.get("order_by"))
