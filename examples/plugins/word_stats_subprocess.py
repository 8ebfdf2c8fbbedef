"""Example OUT-OF-PROCESS plugin: the op's logic runs in a child
process that exchanges Arrow IPC buffers with the executor — the
Python analogue of the reference's FFI plugin boundary, where every
stage call serializes the frame to one Arrow IPC buffer, hands it
across the dylib boundary, and deserializes the reply
(src/core/stage.rs:345-394, dataformat_to_ffi/ffi_to_dataformat).

Spark side: ``mapInArrow`` gives the executor pyarrow RecordBatches
with zero row-level Python cost; each partition spawns ONE child
process (word_stats_child.py — pyarrow + stdlib only, no Spark) and
round-trips its batches as length-prefixed Arrow IPC frames over
stdin/stdout. Any runtime that speaks Arrow IPC (Rust, Go, another
Python env) could sit on the child end of the pipe unchanged — the
same interchangeability the reference's FFI contract provides.

At scale the bridge costs one fork per partition plus one IPC
serialization per batch — no per-row boundary crossings.

The demo op ``wordstats.apply`` appends a whitespace-token count
column (computed child-side) to prove data crossed the boundary and
came back row-aligned.
"""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys
from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register

_FRAME_HDR = struct.Struct("<I")
_CHILD = os.path.join(os.path.dirname(os.path.abspath(__file__)), "word_stats_child.py")


def _write_frame(pipe, payload: bytes) -> None:
    pipe.write(_FRAME_HDR.pack(len(payload)))
    pipe.write(payload)
    pipe.flush()


def _read_exact(pipe, n: int) -> bytes:
    chunks = []
    while n:
        chunk = pipe.read(n)
        if not chunk:
            raise EOFError("plugin subprocess closed the Arrow IPC pipe")
        chunks.append(chunk)
        n -= len(chunk)
    return b"".join(chunks)


def _read_frame(pipe) -> bytes:
    (n,) = _FRAME_HDR.unpack(_read_exact(pipe, _FRAME_HDR.size))
    return _read_exact(pipe, n)


def _batch_to_ipc(batch) -> bytes:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as writer:
        writer.write_batch(batch)
    return sink.getvalue().to_pybytes()


def _ipc_to_batches(payload: bytes) -> list:
    import pyarrow as pa

    with pa.ipc.open_stream(pa.BufferReader(payload)) as reader:
        return list(reader)


@register(
    "wordstats.apply", kind="transform",
    doc="Word stats computed in an Arrow-IPC subprocess (out-of-process plugin example)",
    params=[
        P("column", required=True, desc="Text column to count tokens in"),
        P("output_column", default="word_count", desc="Appended count column"),
    ],
    example={"column": "text"},
    tags=["example", "plugin", "arrow-ipc"],
)
def wordstats_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    column = config["column"]  # required: the registry checks it
    if column not in df.columns:
        raise ConfigError(f"wordstats.apply: no column {column!r}")
    out_col = config.get("output_column", "word_count")
    cfg_json = json.dumps({"column": column, "output_column": out_col})
    child_path = _CHILD

    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.LongType())]
    )

    def run(batches: Iterator) -> Iterator:
        proc = subprocess.Popen(
            [sys.executable, child_path, cfg_json],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        try:
            for batch in batches:
                _write_frame(proc.stdin, _batch_to_ipc(batch))
                yield from _ipc_to_batches(_read_frame(proc.stdout))
            proc.stdin.close()
            if proc.wait(timeout=30) != 0:
                raise RuntimeError(f"plugin subprocess exited {proc.returncode}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()

    return df.mapInArrow(run, out_schema)
