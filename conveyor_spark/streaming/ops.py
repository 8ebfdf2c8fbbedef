"""Streaming building blocks (batch-testable via availableNow).

The reference's streaming operators (stdin_stream, file_watch,
window.apply, aggregate.stream, stdout_stream.write) compose here as
Structured Streaming plans. Everything is testable offline: a file
stream + ``Trigger.AvailableNow`` drains existing data and stops, so
pytest and the oracle harness can exercise real streaming plans
deterministically.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator
from contextlib import AbstractContextManager, contextmanager
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError, ConveyorError


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: Any,
    fmt: str = "parquet",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """File-source stream (reference file_watch: poll+re-emit a file;
    Spark's file source tails a directory/glob natively and tracks
    processed files exactly-once).

    ``SPARK_GRAFT_MAX_FILES_PER_TRIGGER`` (env) caps files per
    micro-batch for every file stream that does not set the option
    itself — the incremental-arrival knob: a multi-file table drains
    as one micro-batch per K files instead of one giant batch, which
    is how the steady-state soak (tools/stream_soak.py) exercises
    watermark eviction across batches. Windowed aggregates and
    stream-stream joins are value-identical under any batching
    (measured: the soak's q66 is hash-exact vs the single-batch
    oracle); dropDuplicatesWithinWatermark is NOT — its contract
    guarantees dedup only within the watermark horizon, so a key
    legitimately re-emits after eviction and output MULTIPLICITY is
    arrival-batching-defined (the distinct key set stays exact)."""
    reader = spark.readStream.schema(schema)
    opts = dict(options or {})
    env_mft = os.environ.get("SPARK_GRAFT_MAX_FILES_PER_TRIGGER")
    # Spark option keys are case-insensitive — an explicit
    # 'maxfilespertrigger' must win over the env knob too
    has_mft = any(k.lower() == "maxfilespertrigger" for k in opts)
    if env_mft and not has_mft:
        try:
            mft = int(env_mft)
        except ValueError:
            mft = -1
        if mft < 1:
            raise ConfigError(
                f"SPARK_GRAFT_MAX_FILES_PER_TRIGGER={env_mft!r} is not a "
                "positive integer — it caps files per streaming "
                "micro-batch; unset it for single-drain batching"
            )
        opts["maxFilesPerTrigger"] = str(mft)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


def windowed_aggregate(
    sdf: DataFrame,
    time_column: str,
    window_size: str,
    aggs: list[tuple[str, str, str]],
    group_by: list[str] | None = None,
    slide: str | None = None,
    watermark: str | None = "1 hour",
    session_gap: str | None = None,
) -> DataFrame:
    """groupBy(window(ts, size[, slide]) | session_window, *keys).agg(...)

    aggs: list of (column, operation, output_name). Watermark bounds
    state (late data beyond it is dropped) — the reference has no
    equivalent (no event time at all).
    """
    from conveyor_spark.transforms.group_by import build_agg

    if watermark:
        sdf = sdf.withWatermark(time_column, watermark)
    if session_gap:
        win = F.session_window(F.col(time_column), session_gap)
    elif slide:
        win = F.window(F.col(time_column), window_size, slide)
    else:
        win = F.window(F.col(time_column), window_size)
    keys = [win, *[F.col(c) for c in (group_by or [])]]
    exprs = [build_agg(c, op).alias(name) for c, op, name in aggs]
    if not exprs:
        raise ConfigError("windowed_aggregate requires at least one aggregation")
    out = sdf.groupBy(*keys).agg(*exprs)
    wcol = next((c for c in ("window", "session_window") if c in out.columns), None)
    if wcol is None:
        return out
    return out.select(
        F.col(f"{wcol}.start").alias("window_start"),
        F.col(f"{wcol}.end").alias("window_end"),
        *[c for c in out.columns if c != wcol],
    )


def stream_dedup(
    sdf: DataFrame,
    keys: list[str],
    time_column: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming deduplication: exactly-once keys across micro-batches.

    With a time column, `dropDuplicatesWithinWatermark` bounds the
    dedup state to the watermark horizon (state for keys older than
    the watermark is evicted — mandatory for unbounded streams; the
    batch dedup ops have no state to bound). Without one, state grows
    with distinct keys forever — only for finite streams.
    """
    if time_column:
        return sdf.withWatermark(time_column, watermark).dropDuplicatesWithinWatermark(keys)
    return sdf.dropDuplicates(keys)


from conveyor_spark.registry import OpContext, P, register

# the shared param metadata — every stateful streaming op offers it
STATE_PARTITIONS_PARAM = P(
    "state_partitions", "integer", min=1,
    desc="State stores for this stream (spark.sql.shuffle.partitions "
         "at stream start); size to steady-state key cardinality. "
         "Env SPARK_GRAFT_STATE_PARTITIONS overrides.",
)


@register(
    "stream.dedup", kind="transform", streaming_capable=True,
    doc="Watermark-bounded streaming dedup",
    params=[
        P("columns", "array", desc="Duplicate key columns (alias: keys)"),
        P("keys", "array", desc="Alias for columns"),
        P("time_column", desc="Event-time column for watermarking"),
        P("watermark", default="1 hour", desc="State retention bound"),
        STATE_PARTITIONS_PARAM,
    ],
    example={"columns": ["event_id"], "time_column": "ts", "watermark": "1 hour"},
    tags=["streaming", "dedup"],
)
def stream_dedup_op(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    request_state_partitions(ctx, config, "stream.dedup", df=inputs[0])
    keys = config.get("columns") or config.get("keys")
    if not keys:
        raise ConfigError("stream.dedup requires 'columns'")
    keys = [keys] if isinstance(keys, str) else list(keys)
    return stream_dedup(
        inputs[0], keys, config.get("time_column"), config.get("watermark", "1 hour")
    )


def request_state_partitions(
    ctx: OpContext, config: dict[str, Any], op: str,
    df: DataFrame | None = None,
) -> None:
    """Honor a stateful streaming op's ``state_partitions`` param.

    The value sizes the stream's state stores (one per shuffle
    partition at FIRST start) — a drain-time property, so the op can
    only REQUEST it: the value rides ``ctx.stream_conf`` and the
    drain (stdout_stream sink, run_available_now) consumes it (pop,
    once — a request must not leak into a LATER param-less stream of
    the same pipeline) and sets ``spark.sql.shuffle.partitions``
    around stream start. Results are value-neutral (state
    partitioning never changes values — the part7 invariance axis);
    this is purely the throughput knob for state cardinality
    (RUNBOOK: q66 at 1024x, 4 -> 32 stores = 3270 -> 580 s).
    ``SPARK_GRAFT_STATE_PARTITIONS`` (env) still overrides, so an
    operator can retune a pinned pipeline without editing it.

    ``df``: the op's input, when the op ALSO runs in batch mode
    (stream.dedup, aggregate.stream) — there the param configures
    nothing and is rejected as dead config (the fuzzy-candidates
    doctrine); pure-streaming ops already reject batch inputs.

    Requests are recorded PER REQUESTING STAGE (ctx.stage_id, set by
    the compiler): a pipeline with two stateful streams must not let
    the second op's request clobber the first's — the drain resolves
    the request(s) belonging to ITS stream's ancestors (compiler
    plumbing) or fails loudly on a multi-value conflict."""
    raw = config.get("state_partitions")
    if raw is None:
        return
    if df is not None and not df.isStreaming:
        raise ConfigError(
            f"{op}: state_partitions sizes a STREAM's state stores and "
            "has no effect on a batch input; remove the key"
        )
    # same parse as the env knob (resolve_state_partitions): 4.5 and
    # True must fail identically in config and env — int() would
    # silently truncate/coerce them
    try:
        sp = int(str(raw))
    except ValueError:
        sp = -1
    if sp < 1:
        raise ConfigError(
            f"{op}: state_partitions={raw!r} "
            "must be an integer >= 1 (state stores per stream)"
        )
    by_stage = ctx.stream_conf.setdefault("state_partitions_by_stage", {})
    by_stage[ctx.stage_id or f"__direct_{len(by_stage)}__"] = (op, sp)


def consume_state_partitions(ctx: OpContext) -> int | None:
    """Drain-side resolution: pop the pending request(s) this sink's
    stream owns and return the value (env override applied by
    resolve_state_partitions afterwards).

    The compiler stashes the draining sink's ancestor stage ids under
    ``__sink_ancestors__`` before calling the sink, so a two-stream
    pipeline resolves each request to ITS stream. Outside the
    compiler (direct op calls) there is no DAG — all pending requests
    are taken, and DIFFERENT values raise a ConfigError rather than
    silently applying one stream's knob to another."""
    by_stage = ctx.stream_conf.get("state_partitions_by_stage") or {}
    ancestors = ctx.stream_conf.pop("__sink_ancestors__", None)
    if ancestors is not None:
        mine = {k: v for k, v in by_stage.items() if k in ancestors}
    else:
        mine = dict(by_stage)
    for k in mine:
        by_stage.pop(k, None)
    vals = {sp for _, sp in mine.values()}
    if len(vals) > 1:
        detail = ", ".join(f"{k} ({op}={sp})"
                           for k, (op, sp) in sorted(mine.items()))
        raise ConfigError(
            "conflicting state_partitions requests reach one stream "
            f"drain: {detail} — set one value, or retune with the "
            "SPARK_GRAFT_STATE_PARTITIONS env override"
        )
    return vals.pop() if vals else None


def resolve_state_partitions(explicit: int | None) -> int | None:
    """Final drain-time value: env override wins, else the explicit
    request (caller arg or ctx.stream_conf). Validates the env var
    loudly — a malformed value failing deep inside the drain with a
    bare ValueError cost a debugging session once."""
    env_sp = os.environ.get("SPARK_GRAFT_STATE_PARTITIONS")
    if env_sp:
        try:
            env_val = int(env_sp)
        except ValueError:
            env_val = -1
        if env_val < 1:
            raise ConfigError(
                f"SPARK_GRAFT_STATE_PARTITIONS={env_sp!r} is not a "
                "positive integer — it sizes the stream's state stores "
                "(spark.sql.shuffle.partitions at stream start) and must "
                "be >= 1; unset it to use the pipeline's value"
            )
        return env_val
    return explicit


def checkpoint_tmpdir(prefix: str) -> tempfile.TemporaryDirectory:
    """Temp checkpoint location for drain-style (availableNow) runs.

    Prefers tmpfs (/dev/shm). Override the base directory with
    CONVEYOR_SPARK_CKPT_DIR (e.g. when /dev/shm is small); the
    checkpoint is deleted either way, so restartable streams pass an
    explicit checkpointLocation instead.

    tmpfs does not make the commits cheap. Without libhadoop,
    Hadoop's local filesystem spawns a ``readlink`` or ``chmod``
    process for each file-status call and each permission set, and
    Spark's default FileContext checkpoint manager makes many such
    calls per rename. Measured on a 4-vCPU host: a q40 drain (two
    micro-batches, 8 state stores) spawned 426 processes, and each
    of its 16 state-store commits took ~120 ms on disk and ~140 ms
    on tmpfs. ``drain_conf`` removes the rename spawns for a
    checkpoint from here (426 -> 98 spawns; the rest are ``chmod``
    calls made while creating files)."""
    base = os.environ.get("CONVEYOR_SPARK_CKPT_DIR")
    if base is None and os.path.isdir("/dev/shm"):
        base = "/dev/shm"
    return tempfile.TemporaryDirectory(prefix=prefix, dir=base)


def set_runtime_conf(spark: SparkSession, key: str, value: str) -> None:
    """``spark.conf.set``, with a static or core conf (which Spark
    refuses after the session starts) as a ConfigError naming it."""
    try:
        spark.conf.set(key, value)
    except Exception as exc:  # AnalysisException
        raise ConfigError(
            f"conf {key!r} cannot be set at runtime: {exc}"
        ) from None


@contextmanager
def session_conf(spark: SparkSession, overrides: dict[str, str]) -> Iterator[None]:
    """Set ``overrides`` on the session for the block, then put every
    key back as it was found: a set key gets its old value, an unset
    key is unset again. A key that cannot be set raises ConfigError
    after the keys set before it are put back. A stream copies the session conf at
    ``start()``, so a block around ``start()`` covers the whole
    query and leaves later queries on the session's own values."""
    prev: dict[str, str | None] = {}
    try:
        for k, v in overrides.items():
            old = spark.conf.get(k, None)
            set_runtime_conf(spark, k, v)
            prev[k] = old
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Bounded drains run 1-3 micro-batches; the default checkpoint
# retention (100 batches, per-batch snapshot/maintenance work) is
# pure overhead for them. Recovery still holds: restart needs only
# the LAST committed batch. Measured at sf0.1: q66 2.6->2.2 s,
# q63 1.6->1.4 s, q40 0.9->0.8 s warm. Long-running production
# streams keep Spark's defaults.
_DRAIN_CONF = {
    "spark.sql.streaming.minBatchesToRetain": "2",
    "spark.sql.streaming.stateStore.minDeltasForSnapshot": "100",
    "spark.sql.streaming.stateStore.maintenanceInterval": "600s",
}
# Only for a checkpoint the drain owns (a fresh checkpoint_tmpdir that
# only this query writes and that is deleted afterwards). Spark's
# default FileContext manager renames with fail-if-exists, which
# guards a checkpoint two queries share; a private temp dir gains
# nothing from that guard, POSIX rename(2) stays atomic, and the
# checkpoint keeps the same files (N.delta, N.delta.crc and Hadoop's
# .crc files). The FileSystem manager renames without the
# FileContext status calls that each spawn a process (see
# checkpoint_tmpdir): q40's summed commitTimeMs 1971 -> 125 ms and
# its drain 2.30 -> 1.37 s (medians of 10 pairs, 4-vCPU host).
_OWNED_CHECKPOINT_CONF = {
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
}


def drain_conf(
    spark: SparkSession, state_partitions: int | None, owned_checkpoint: bool,
) -> AbstractContextManager[None]:
    """The session conf an availableNow drain starts under: the
    retention settings, ``state_partitions`` state stores (None keeps
    the session's shuffle partitions) and, when the drain owns its
    checkpoint, the FileSystem checkpoint manager. Durable
    checkpoints (a caller's path) keep Spark's default manager."""
    conf = dict(_DRAIN_CONF)
    if owned_checkpoint:
        conf.update(_OWNED_CHECKPOINT_CONF)
    if state_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(state_partitions)
    return session_conf(spark, conf)


def _checkpoint_has_commits(spark: SparkSession, checkpoint: str) -> bool:
    """True if the checkpoint's commits/ log has at least one batch.
    Goes through Hadoop's FileSystem so every checkpoint scheme a
    stream can actually use (file:, hdfs://, s3a://, plain paths)
    answers correctly — os.listdir would silently say 'no' for
    anything but a bare posix path, disarming the resumed-complete-
    mode guard exactly where production checkpoints live."""
    try:
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(checkpoint, "commits")
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return False
        return any(
            not st.getPath().getName().startswith(".")
            for st in fs.listStatus(path)
        )
    except Exception:
        # Spark Connect (no _jvm) or an unreadable FS: fall back to a
        # local check so plain paths and file: URIs still get the
        # guard. Remote schemes (hdfs://, s3a://) CANNOT be verified
        # without the JVM FS — there the guard is best-effort only
        # (documented in run_available_now).
        local = checkpoint
        if local.startswith("file://"):
            local = local[len("file://"):]
        elif local.startswith("file:"):
            local = local[len("file:"):]
        commits = os.path.join(local, "commits")
        return os.path.isdir(commits) and any(
            not n.startswith(".") for n in os.listdir(commits)
        )


# Observability hook: after each drain completes, its PER-BATCH
# StreamingQueryProgress list (recentProgress: state-operator
# rows/memory, batch timing) is recorded here keyed by query name;
# the final progress is its [-1]. tools/streaming_probe.py asserts
# state-store bounds at scale from the last entry, tools/stream_soak.py
# plots the whole curve to prove state PLATEAUS under watermark
# eviction rather than growing with batches. No behavioral effect.
RECENT_PROGRESS: dict[str, list] = {}


def run_available_now(
    sdf: DataFrame, query_name: str, output_mode: str = "complete",
    state_partitions: int | None = None, checkpoint: str | None = None,
) -> DataFrame:
    """Drain all available input through a streaming plan into an
    in-memory table and return it as a (batch) DataFrame.

    ``state_partitions`` sizes the stream's state stores: a stateful
    query allocates one store per shuffle partition at FIRST start,
    and for a bounded local drain 32 stores of a few rows each are
    pure fixed overhead (q66: 6.5s -> 2.7s at 8). A production
    stream should size this to its steady-state key cardinality
    instead. Results are partitioning-independent; only the conf at
    stream start matters, so it is set and restored around start.

    ``SPARK_GRAFT_STATE_PARTITIONS`` (env) overrides the caller's
    value — the SCALE knob for the per-query gate-scale pins: at
    1024x Zipf events, q66's pinned 4 partitions mean ~3M state rows
    per store draining single-threaded per partition (measured: the
    r12 streaming probe's rocksdb drain ran 10x past its 256x-linear
    ETA on 4 cores of 32). Same doctrine as LSH's occupancy knob:
    partitions grow with state cardinality, results are identical
    (state partitioning never changes values — the r11 part7
    invariance axis).

    ``checkpoint``: a DURABLE checkpoint location. The default (None)
    is a throwaway temp dir — right for one-shot drains. Pass a real
    path to make the drain restartable: a later call with the same
    path resumes source offsets AND operator state from the
    checkpoint, i.e. already-read files are not re-read and stateful
    ops (count windows, dedup, sessionization) continue where they
    left off — Structured Streaming's crash-recovery contract.
    Restartable drains go through ``foreachBatch`` because the memory
    sink refuses to recover from a checkpoint ("This query does not
    support recovering..."); foreachBatch is the recovery-capable
    collection sink.

    A resumed COMPLETE-mode drain with no new input raises
    ConveyorError rather than returning an empty DataFrame: zero
    micro-batches ran, so nothing re-emitted the (still live)
    aggregate state, and silence would be indistinguishable from "no
    results". Update/append resumes with no new input legitimately
    return zero NEW rows and stay silent. The prior-commits probe
    goes through Hadoop's FileSystem (any scheme); on a session with
    no JVM handle (Spark Connect) only plain paths and file: URIs
    can be probed — remote-scheme checkpoints there get best-effort
    detection only."""
    spark = sdf.sparkSession
    state_partitions = resolve_state_partitions(state_partitions)
    batches: dict[int, list] = {}

    def start(ckpt: str):
        with drain_conf(spark, state_partitions,
                        owned_checkpoint=checkpoint is None):
            w = sdf.writeStream.outputMode(output_mode)
            if checkpoint is not None:
                def collect_batch(bdf: DataFrame, batch_id: int) -> None:
                    batches[batch_id] = bdf.collect()

                w = w.foreachBatch(collect_batch)
            else:
                w = w.format("memory").queryName(query_name)
            return (
                w.option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

    if checkpoint is not None:
        # a resumed drain that finds no new input runs ZERO micro-
        # batches: in complete mode the aggregate state still exists
        # in the state store, but nothing re-emits it, so an empty
        # result here would be indistinguishable from "no results".
        # Detect that case (prior commits in the checkpoint + no new
        # batches) and fail loudly instead of returning wrong data.
        had_commits = _checkpoint_has_commits(spark, checkpoint)
        q = start(checkpoint)
        q.awaitTermination()
        RECENT_PROGRESS[query_name] = list(q.recentProgress or [])
        # mirror the memory sink's semantics over collected batches:
        # complete mode = the last batch IS the result; update/append
        # mode = every batch's rows accumulate
        if output_mode == "complete":
            if not batches and had_commits:
                raise ConveyorError(
                    "run_available_now: resumed complete-mode drain at "
                    f"checkpoint {checkpoint!r} found no new input, so no "
                    "micro-batch re-emitted the (still live) aggregate "
                    "state. Read the previous run's sink output, or feed "
                    "new data before resuming."
                )
            rows = batches[max(batches)] if batches else []
        else:
            rows = [r for _, b in sorted(batches.items()) for r in b]
        return spark.createDataFrame(rows, schema=sdf.schema)
    with checkpoint_tmpdir("conveyor-ckpt-") as ckpt:
        q = start(ckpt)
        q.awaitTermination()
        RECENT_PROGRESS[query_name] = list(q.recentProgress or [])
    return sdf.sparkSession.table(query_name)


@register(
    "stream.join", kind="transform", min_inputs=2, max_inputs=2,
    streaming_capable=True, doc="Stream-stream equi-join with event-time bound",
    params=[
        P("on", "array", required=True, desc="Equi-join key(s)"),
        P("time_column", required=True, desc="Event-time column in both streams"),
        P("max_delta", required=True,
          desc="Max left.time - right.time (seconds or duration)"),
        P("min_delta", "any",
          desc="Lower bound on left.time - right.time (default: -max_delta)"),
        P("watermark", desc="Watermark delay (default: max_delta)"),
        P("how", default="inner", allowed=("inner", "left", "right"), desc="Join type"),
        P("right_time_column", desc="Right stream's time column (default: time_column)"),
        P("right_prefix", default="r_", desc="Prefix for right-side columns"),
        STATE_PARTITIONS_PARAM,
    ],
    example={"on": ["user_id"], "time_column": "ts", "max_delta": "10 minutes"},
    tags=["streaming", "join"],
)
def stream_join(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Stream-stream join: pair events from two streams on equi keys
    within an event-time window (|left.time - right.time| bounded).

    Config: ``on`` (equi key column(s), required), ``time_column``
    (left side), ``right_time_column`` (default = time_column),
    ``max_delta`` / ``min_delta`` (seconds; the pair matches when
    ``left.time - right.time`` lies in [min_delta, max_delta];
    min_delta defaults to -max_delta, i.e. a symmetric window —
    min_delta=0 keeps only right events AT-OR-BEFORE left),
    ``watermark`` (e.g. "2 hours", required — bounds the join state
    Spark must retain; without it state grows forever), ``how`` =
    inner (default) | left | right (outer sides need the watermark
    to know when to emit nulls), ``right_prefix`` (default ``r_``)
    on all right columns.

    Scale: both sides shuffle ONCE by the equi keys; the time bound
    prunes state per key. This is Spark's native stream-stream join
    surface expressed as a pipeline op — state cleanup, late-data
    handling, and outer-null emission all follow the watermark.
    """
    request_state_partitions(ctx, config, "stream.join")
    left, right = inputs
    keys = config.get("on")
    if not keys:
        raise ConfigError("stream.join requires 'on' (equi key column(s))")
    keys = [keys] if isinstance(keys, str) else list(keys)
    tcol = config.get("time_column")
    if not tcol:
        raise ConfigError("stream.join requires 'time_column'")
    rtcol = config.get("right_time_column", tcol)
    max_delta = config.get("max_delta")
    if max_delta is None:
        raise ConfigError("stream.join requires 'max_delta' (seconds)")
    from conveyor_spark.durations import parse_duration_seconds

    max_delta = parse_duration_seconds(max_delta, "stream.join max_delta")
    min_delta = (
        parse_duration_seconds(config["min_delta"], "stream.join min_delta")
        if config.get("min_delta") is not None else -max_delta
    )
    watermark = config.get("watermark")
    if not watermark:
        # the documented default: state only needs to cover the join
        # window itself, so the time bound doubles as the delay.
        # An asymmetric min_delta can stretch the window further than
        # max_delta (e.g. min_delta='-1 hour', max_delta='10 seconds')
        # — cover whichever side reaches further.
        import math

        watermark = f"{int(math.ceil(max(abs(max_delta), abs(min_delta))))} seconds"
    how = config.get("how", "inner")
    if how not in ("inner", "left", "right"):
        raise ConfigError("stream.join: how must be inner|left|right")
    prefix = config.get("right_prefix", "r_")

    l = left.withWatermark(tcol, watermark).alias("l")
    r = right.withWatermark(rtcol, watermark).alias("r")
    bad = [c for c in left.columns if c in {f"{prefix}{x}" for x in right.columns}]
    if bad:
        raise ConfigError(f"stream.join: left columns collide with prefixed right columns: {bad}")

    cond = None
    for k in keys:
        eq = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = eq if cond is None else (cond & eq)
    lt, rt = F.col(f"l.{tcol}").cast("double"), F.col(f"r.{rtcol}").cast("double")
    cond = cond & (rt >= lt - F.lit(max_delta)) & (rt <= lt - F.lit(min_delta))
    joined = l.join(r, cond, "left_outer" if how == "left" else
                    "right_outer" if how == "right" else "inner")
    return joined.select(
        *[F.col(f"l.{c}").alias(c) for c in left.columns],
        *[F.col(f"r.{c}").alias(f"{prefix}{c}") for c in right.columns],
    )
