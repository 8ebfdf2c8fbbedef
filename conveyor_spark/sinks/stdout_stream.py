"""stdout_stream.write — per-record real-time printing.

Reference: src/modules/sinks/stdout_stream.rs:29-72 — prints each
record as it arrives (json/jsonl/csv/text ``k=v``).

Spark-first: for a streaming DataFrame this is
``writeStream.format("console")``; for a batch DataFrame we stream
partitions through the driver (toLocalIterator) and print row by row
— same observable behavior without materializing the frame.
"""

from __future__ import annotations

import json as _json
import sys
from tempfile import TemporaryDirectory
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from conveyor_spark.registry import OpContext, P, register


# Checkpoints of drains started with await_termination=false, held
# until their query is seen stopped; the rest go at interpreter exit
# (TemporaryDirectory's finalizer).
_DETACHED: list[tuple[StreamingQuery, TemporaryDirectory]] = []


def _hold_until_stopped(query: StreamingQuery, ckpt: TemporaryDirectory) -> None:
    for q, d in list(_DETACHED):
        if not q.isActive:
            d.cleanup()
            _DETACHED.remove((q, d))
    _DETACHED.append((query, ckpt))


def _fmt_row(d: dict[str, Any], fmt: str, pretty: bool) -> str:
    if fmt == "text":
        return " ".join(f"{k}={v}" for k, v in d.items())
    if fmt == "csv":
        return ",".join(str(v) for v in d.values())
    return _json.dumps(d, indent=2 if pretty else None, default=str)


@register(
    "stdout_stream.write", kind="sink", streaming_capable=True,
    doc="Per-record streaming print",
    params=[
        P("format", default="jsonl", allowed=("jsonl", "json"), desc="Record rendering"),
        P("pretty", "boolean", default=False, desc="Indent JSON"),
        P("output_mode", default="append", allowed=("append", "update", "complete"),
          desc="Streaming output mode"),
        P("await_termination", "boolean", default=True,
          desc="Block until the query stops"),
    ],
    example={"format": "jsonl"},
    tags=["stdout", "streaming"],
)
def stdout_stream_write(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> None:
    df = inputs[0]
    fmt = config.get("format", "jsonl")
    pretty = bool(config.get("pretty", False))
    out = config.get("_out", sys.stdout)  # test hook
    if df.isStreaming:
        from conveyor_spark.streaming.ops import (
            RECENT_PROGRESS, checkpoint_tmpdir, consume_state_partitions,
            drain_conf, resolve_state_partitions,
        )

        # a stateful upstream op may have requested its state-store
        # count (state_partitions param); stores are sized at stream
        # START, so drain_conf applies the request (env knob wins)
        # around .start() and restores after. consume_state_partitions
        # pops THIS stream's request (by the sink's ancestor stages
        # under the compiler) — it must not leak into a later
        # param-less stream of the same pipeline
        sp = resolve_state_partitions(consume_state_partitions(ctx))
        # the drain owns this checkpoint: a fresh local temp dir,
        # deleted once the query stops
        ckpt = checkpoint_tmpdir("conveyor-stdout-")
        try:
            with drain_conf(df.sparkSession, sp, owned_checkpoint=True):
                query = (
                    df.writeStream.format("console")
                    .outputMode(config.get("output_mode", "append"))
                    .option("truncate", False)
                    .option("checkpointLocation", ckpt.name)
                    .trigger(availableNow=True)
                    .start()
                )
        except BaseException:
            ckpt.cleanup()
            raise
        if not config.get("await_termination", True):
            _hold_until_stopped(query, ckpt)
            return None
        try:
            query.awaitTermination()
        finally:
            ckpt.cleanup()
        # same observability hook run_available_now keeps: each
        # batch's progress carries stateOperators (rows/memory/
        # numShufflePartitions) for probes and tests; the
        # stage-qualified key keeps MULTI-sink pipelines readable
        # (the bare key records the last drain only)
        prog = list(query.recentProgress or [])
        RECENT_PROGRESS["stdout_stream.write"] = prog
        if ctx.stage_id:
            RECENT_PROGRESS[f"stdout_stream.write:{ctx.stage_id}"] = prog
        return None
    for row in df.toLocalIterator():
        out.write(_fmt_row(row.asDict(recursive=True), fmt, pretty) + "\n")
    return None
