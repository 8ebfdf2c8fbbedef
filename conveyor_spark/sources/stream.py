"""Streaming sources: file.watch and stdin.stream.

The reference implements these as StreamingDataSource but never wires
them into its registry (SURVEY §2.1 note: src/core/traits.rs:137-147
vs src/modules/mod.rs:16-120); docs/examples advertise them, so we
treat them as the intended streaming surface.

- file.watch (reference: src/modules/sources/file_watch.rs:69-154,
  mtime-poll + re-emit whole file): Spark's file stream source tails
  a directory/glob natively with exactly-once file tracking. NOTE the
  semantic divergence: Spark processes each FILE once and ignores
  in-place modifications, while the reference re-parses the same file
  whenever its mtime changes. ``reemit_on_modify=true`` restores the
  reference behavior for a single watched file: a driver-side poller
  snapshots each new version into a spool directory, which the file
  source then picks up as a fresh file (every saved version streams
  exactly once).
- stdin.stream (reference: src/modules/sources/stdin_stream.rs:56-99,
  line-by-line stdin): stdin is not distributable; the idiomatic
  Spark equivalents are the socket source (line-per-record, same
  shape) or the rate source for testing. ``mode`` selects.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


class FileVersionSpooler:
    """Snapshot a single file into a spool dir whenever its mtime
    changes — the reference's re-emit-on-modify semantics
    (file_watch.rs:69-154) adapted to Spark's process-once file
    source: each saved version becomes a NEW file the stream reads
    exactly once."""

    def __init__(self, src: str, spool_dir: str):
        self.src = src
        self.spool_dir = spool_dir
        self._last_mtime: int | None = None
        base = os.path.basename(src)
        self._stem, self._ext = os.path.splitext(base)

    def poll_once(self) -> bool:
        """Copy the file if it changed since the last poll."""
        try:
            mt = os.stat(self.src).st_mtime_ns
        except FileNotFoundError:
            return False
        if mt == self._last_mtime:
            return False
        self._last_mtime = mt
        dst = os.path.join(self.spool_dir, f"{self._stem}-{mt}{self._ext}")
        tmp = dst + ".tmp"
        shutil.copy2(self.src, tmp)
        os.rename(tmp, dst)  # atomic: the stream never sees partials
        return True

    def start(self, interval: float) -> threading.Thread:
        def loop() -> None:
            while True:
                self.poll_once()
                time.sleep(interval)

        t = threading.Thread(target=loop, daemon=True, name=f"file-watch:{self.src}")
        t.start()
        return t


@register(
    "file.watch", kind="source", streaming_capable=True,
    doc="Tail a directory/glob as a stream",
    params=[
        P("path", required=True, desc="Directory to watch"),
        P("format", default="json", desc="File format (json/csv/parquet/text)"),
        P("schema", desc="DDL schema (required for most streaming formats)"),
        P("path_glob_filter", desc="Only match these file names"),
        P("max_files_per_trigger", "integer", min=1, desc="Micro-batch file cap"),
        P("reemit_on_modify", "boolean", default=False,
          desc="Re-emit a file when modified (spool-copy shim over Spark's "
               "process-once file source)"),
        P("spool_dir", desc="Spool directory for reemit_on_modify"),
        P("poll_interval", "float", default=1.0, min=0.01,
          desc="Modify-poll period in seconds"),
        P("poll_interval_ms", "integer", min=1,
          desc="Reference-spec alias: poll period in milliseconds"),
    ],
    example={"path": "incoming/", "format": "json", "schema": "id INT, v STRING"},
    tags=["file", "streaming", "watch"],
)
def file_watch(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    path = config.get("path")
    if config.get("reemit_on_modify"):
        if not os.path.isfile(path):
            raise ConfigError(
                "file.watch reemit_on_modify watches a single FILE "
                f"(got {path!r}); point 'path' at the mutating file"
            )
        spool = config.get("spool_dir") or tempfile.mkdtemp(prefix="conveyor-filewatch-")
        os.makedirs(spool, exist_ok=True)
        spooler = FileVersionSpooler(path, spool)
        spooler.poll_once()  # current version is the first emission
        if not config.get("_no_poller_thread"):  # test hook: poll manually
            # `poll_interval_ms` is the reference's documented key
            if (ms := config.get("poll_interval_ms")) is not None:
                interval = float(ms) / 1000.0
            else:
                interval = float(config.get("poll_interval", 1.0))
            spooler.start(interval)
        path = spool
    fmt = config.get("format", "json")
    if fmt == "text":
        fmt = "text"
    elif fmt in ("json", "jsonl"):
        fmt = "json"
    elif fmt not in ("parquet", "csv"):
        raise ConfigError(f"file.watch: unsupported format {fmt!r}")
    schema = config.get("schema")
    if schema is None:
        # infer once from the files already present (a production
        # pipeline should pass an explicit schema)
        batch_reader = ctx.spark.read.format(fmt)
        if glob := config.get("path_glob_filter"):
            batch_reader = batch_reader.option("pathGlobFilter", glob)
        schema = batch_reader.load(path).schema
    reader = ctx.spark.readStream.schema(schema).format(fmt)
    if glob := config.get("path_glob_filter"):
        reader = reader.option("pathGlobFilter", glob)
    if config.get("max_files_per_trigger"):
        reader = reader.option("maxFilesPerTrigger", str(int(config["max_files_per_trigger"])))
    return reader.load(path)


@register(
    "stdin.stream", kind="source", streaming_capable=True,
    doc="Line stream (socket/rate source)",
    params=[
        P("mode", default="socket", allowed=("socket", "rate"), desc="Stream source"),
        P("host", default="localhost", desc="Socket host"),
        P("port", "integer", desc="Socket port (required for mode=socket)"),
        P("format", default="text", allowed=("text", "json"), aliases=("jsonl",),
          desc="Line parsing"),
        P("schema", desc="DDL schema for format=json"),
        P("rows_per_second", "integer", default=10, min=1, desc="Rate-source speed"),
    ],
    example={"mode": "socket", "port": 9999},
    tags=["streaming", "socket"],
)
def stdin_stream(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    mode = config.get("mode", "socket")
    if mode == "socket":
        host = config.get("host", "localhost")
        port = config.get("port")
        if port is None:
            raise ConfigError("stdin.stream mode=socket requires 'port'")
        df = (
            ctx.spark.readStream.format("socket")
            .option("host", host)
            .option("port", int(port))
            .load()
        )
        fmt = config.get("format", "text")
        if fmt in ("json", "jsonl"):
            schema = config.get("schema")
            if not schema:
                raise ConfigError("stdin.stream json format requires 'schema' (DDL string)")
            return df.select(F.from_json(F.col("value"), schema).alias("r")).select("r.*")
        return df
    if mode == "rate":
        # test/bench source: monotonic (timestamp, value) rows
        return (
            ctx.spark.readStream.format("rate")
            .option("rowsPerSecond", str(int(config.get("rows_per_second", 10))))
            .load()
        )
    raise ConfigError(f"stdin.stream: unknown mode {mode!r}")
