"""Pipeline compiler/runner: spec -> lazy DataFrame plan -> actions.

The reference executes its DAG by materializing every stage output
and cloning it to consumers (src/core/dag_executor.rs:142,233-251) —
three executors (level-scheduled / channel / actor) all schedule the
same materialized model. On Spark all of that collapses: folding
stages into *lazy* DataFrames hands the whole DAG to Catalyst, which
does cross-stage predicate pushdown, column pruning and join planning
that the reference never had. Only sinks trigger actions.

Fan-out: a stage consumed by >1 downstream stage reuses the same
DataFrame (lineage is shared); ``cache: true`` in its config opts
into persistence when recomputation would be expensive (the
reference broadcasts materialized clones — dag_executor.rs:170-177).

Error strategies (reference: src/core/strategy.rs):
- stop (default): first failure aborts the run.
- continue: a failing *sink* action is skipped; a failing transform
  yields an empty DataFrame of the input's schema where inferable.
- retry {max_retries, retry_delay_seconds}: retries the stage
  build/action with linear backoff.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from conveyor_spark.config.spec import PipelineSpec, StageSpec
from conveyor_spark.errors import ConfigError, ConveyorError
from conveyor_spark.registry import OpContext, get_function


@dataclass
class RunResult:
    outputs: dict[str, DataFrame] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)
    # observe.apply stages -> {metric alias: value}, filled after the
    # sink actions complete (only for branches that actually executed)
    metrics: dict[str, dict[str, Any]] = field(default_factory=dict)


def _drain_observations(
    ctx: "OpContext", result: RunResult, sink_ancestors: set[str]
) -> None:
    """Collect Observation values without hanging.

    The listener completing an Observation fires ASYNC after an
    action, so poll getOrEmpty briefly (Observation.get would block
    forever on a branch no action touched). Driver-iterating sinks
    (toLocalIterator) never fire the listener at all — for
    observations whose stage is an ancestor of an executed sink,
    fall back to an explicit aggregate job (one extra scan, correct
    values); dangling branches still report nothing."""
    import time

    def peek(obs) -> dict | None:
        # no public non-blocking API; getOrEmpty NPEs while pending on
        # Spark 4, which also tells us "not completed yet"
        try:
            jmap = obs._jo.getOrEmpty()  # noqa: SLF001
            if not jmap.isEmpty():
                return dict(obs.get)
        except Exception:
            return None
        return None

    for name, entry in ctx.observations.items():
        got = None
        for _ in range(10):  # <= 0.5 s for the async listener
            got = peek(entry["obs"])
            if got is not None:
                break
            time.sleep(0.05)
        if got is None and entry.get("stage") in sink_ancestors:
            # listener never fired (e.g. a toLocalIterator sink) but
            # the branch DID feed a sink: recompute explicitly
            try:
                row = entry["df"].agg(*entry["exprs"]).first()
            except Exception:  # pragma: no cover
                row = None
            got = row.asDict() if row is not None else None
        if got is not None:
            result.metrics[name] = got


def _strategy(stage: StageSpec, spec: PipelineSpec) -> dict[str, Any]:
    return stage.error_strategy or spec.error_handling or {"type": "stop"}


def _strategy_kind(stage: StageSpec, spec: PipelineSpec) -> str:
    """Resolve the strategy kind once: 'type' with a 'strategy' alias.
    Used by BOTH the retry wrapper and the continue handler so a spec
    writing strategy="continue" gets error capture, not a re-raise."""
    strat = _strategy(stage, spec)
    return strat.get("type", strat.get("strategy", "stop"))


def _run_with_strategy(stage: StageSpec, spec: PipelineSpec, fn):
    strat = _strategy(stage, spec)
    kind = _strategy_kind(stage, spec)
    if kind == "retry":
        max_retries = int(strat.get("max_retries", 3))
        delay = float(strat.get("retry_delay_seconds", 1.0))
        last: Exception | None = None
        for attempt in range(max_retries + 1):
            try:
                return fn()
            except Exception as exc:  # noqa: BLE001
                last = exc
                if attempt < max_retries:
                    time.sleep(delay)
        raise ConveyorError(f"stage {stage.id!r} failed after {max_retries} retries") from last
    return fn()


def _dead_letter(stage: StageSpec, spec: PipelineSpec, error: str) -> None:
    """Append failure metadata to the dead-letter queue, if enabled.

    Reference parity+: [error_handling.dead_letter_queue] {enabled,
    path} is declared in the reference's config schema and scaffold
    (src/core/config.rs:109-118) but never consumed by its executor;
    here a captured `continue` failure appends one JSON line
    {stage_id, error, timestamp} (the documented record shape, minus
    per-record payloads — a lazily-compiled stage has no materialized
    records to quarantine)."""
    import json as _json
    import os
    from datetime import datetime, timezone

    dlq = (_strategy(stage, spec)).get("dead_letter_queue") or {}
    if not dlq.get("enabled") or not dlq.get("path"):
        return
    # the DLQ append runs inside the `continue` handler: its own IO
    # failing (unwritable path, full disk) must not abort a pipeline
    # whose strategy said to keep going
    try:
        path = dlq["path"]
        if path.endswith(("/", os.sep)) or os.path.isdir(path):
            os.makedirs(path, exist_ok=True)
            path = os.path.join(path, "failed_records.jsonl")
        else:
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "a") as f:
            f.write(_json.dumps({
                "stage_id": stage.id,
                "error": error,
                "timestamp": datetime.now(timezone.utc).isoformat(),
            }) + "\n")
    except OSError as exc:
        import warnings

        warnings.warn(
            f"dead-letter queue write failed for stage {stage.id!r}: {exc}",
            RuntimeWarning,
            stacklevel=2,
        )


# [global] state_store names -> provider classes. HDFS-backed is
# Spark's default (whole state in executor memory, snapshot per
# commit); RocksDB keeps state off-heap with incremental changelog
# checkpointing — the provider to run when per-partition state
# exceeds executor heap (large dedup/session/join state at 100 TB).
STATE_STORE_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state."
               "RocksDBStateStoreProvider",
}


def _spark_conf(spec: PipelineSpec) -> dict[str, str]:
    """[global.spark] runtime confs + the [global] state_store
    convenience key. Streaming state-store and AQE confs are
    runtime-settable, so these apply on the driver's plain session
    too; a non-runtime key raises ConfigError naming it.

    compile_pipeline sets them and does NOT restore: its returned
    lazy DataFrames still need the confs at action time (callers
    driving compile directly own the session's lifecycle).
    run_pipeline restores them — one pipeline's confs must not leak
    into the next pipeline compiled on the same shared session."""
    conf = dict(spec.spark_conf)
    if spec.state_store is not None:
        conf.setdefault(
            "spark.sql.streaming.stateStore.providerClass",
            STATE_STORE_PROVIDERS[spec.state_store],
        )
        if spec.state_store == "rocksdb":
            # incremental checkpoints: upload the changelog, not the
            # whole store, per commit — the reason to pick RocksDB
            conf.setdefault(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled",
                "true",
            )
    return conf


def compile_pipeline(
    spark: SparkSession, spec: PipelineSpec, run_sinks: bool = True
) -> RunResult:
    """Build all stage DataFrames lazily; execute sink actions.

    Returns every producing stage's DataFrame (lazy — no action has
    touched non-sink frames) plus per-stage errors under the
    ``continue`` strategy.
    """
    # Plugin modules register extra ops at import time — the Python
    # equivalent of the reference's FFI/WASM plugin loading
    # (src/plugin_loader.rs:87-135): a module on sys.path that calls
    # conveyor_spark.register(...) in its body.
    for mod in spec.plugins:
        import importlib

        try:
            importlib.import_module(mod)
        except ImportError as exc:
            raise ConfigError(
                f"plugin module {mod!r} not importable (is it on PYTHONPATH?): {exc}"
            ) from None

    # a typo'd [global].variables reference survives parsing as the
    # literal '{{ name }}' (it may legitimately be a per-row
    # template); warn at compile so `run` users see it, not only
    # `validate` users — same helper, same precision (params the op
    # declares templated stay silent)
    from conveyor_spark.config.spec import unresolved_template_refs

    for sid_w, fn_w, name_w in unresolved_template_refs(spec):
        import sys

        print(
            f"warning: stage {sid_w!r} ({fn_w}): '{{{{ {name_w} }}}}' is "
            "not a [global].variables entry — left as a per-row template "
            "(typo?)",
            file=sys.stderr,
        )

    from conveyor_spark.streaming.ops import set_runtime_conf

    for key, value in _spark_conf(spec).items():
        set_runtime_conf(spark, key, value)

    ctx = OpContext(spark=spark, variables=spec.variables)
    result = RunResult()
    stage_map = spec.stage_map()

    try:
        return _compile_stages(spark, spec, ctx, result, stage_map, run_sinks)
    finally:
        # release the ops' scoped decision-table persists (hot-gram
        # lists, LM tables, PQ codes, ...): they exist to share work
        # BETWEEN this run's consumers, and by now every sink action
        # has executed. Without this a long-lived session pins ~20
        # tables per pipeline run (r14). User-requested `cache: true`
        # stage outputs are NOT touched — only ctx.persist handles.
        ctx.release_persisted()


def _compile_stages(
    spark: SparkSession, spec, ctx: "OpContext", result: RunResult,
    stage_map, run_sinks: bool,
) -> RunResult:
    executed_sinks: list[str] = []
    for sid in spec.topo_order():
        stage = stage_map[sid]
        op = get_function(stage.function)
        ctx.stage_id = sid
        if len(stage.inputs) < op.min_inputs:
            raise ConfigError(
                f"stage {sid!r}: {stage.function} needs >= {op.min_inputs} inputs"
            )
        # max_inputs=0 means "no inputs" (every source op), NOT
        # unbounded — None is the unbounded sentinel
        if op.max_inputs is not None and len(stage.inputs) > op.max_inputs:
            raise ConfigError(
                f"stage {sid!r}: {stage.function} accepts <= {op.max_inputs} inputs"
            )
        # propagate upstream failures under `continue`
        failed_inputs = [i for i in stage.inputs if i in result.errors or i in result.skipped]
        if failed_inputs:
            result.skipped.append(sid)
            continue
        no_output = [i for i in stage.inputs if i not in result.outputs]
        if no_output:
            raise ConfigError(
                f"stage {sid!r}: input stage(s) {no_output} produced no "
                "output (sinks cannot feed downstream stages)"
            )
        inputs = [result.outputs[i] for i in stage.inputs]

        if op.kind == "sink" and not run_sinks:
            # build-only mode (explain/dry-run): sink fns execute their
            # action inside fn(), so they must not be called at all
            result.skipped.append(sid)
            continue

        if op.kind == "sink":
            # a streaming drain resolves per-stream requests (e.g.
            # state_partitions) recorded by its ANCESTOR ops — in a
            # two-stream pipeline each sink must see only its own
            # stream's requests (conveyor_spark.streaming.ops.
            # consume_state_partitions pops this)
            anc: set[str] = set()
            frontier = list(stage.inputs)
            while frontier:
                s = frontier.pop()
                if s not in anc:
                    anc.add(s)
                    frontier.extend(stage_map[s].inputs)
            ctx.stream_conf["__sink_ancestors__"] = anc

        strat_type = _strategy_kind(stage, spec)
        try:
            out = _run_with_strategy(
                stage, spec, lambda: op.fn(ctx, inputs, dict(stage.config))
            )
            if out is not None:
                # a sink's return (e.g. kafka.write's StreamingQuery
                # under await_termination=false) is not a DataFrame —
                # never .cache() it
                if stage.config.get("cache") and op.kind != "sink":
                    out = out.cache()
                result.outputs[sid] = out
        except ConveyorError:
            raise
        except Exception as exc:  # noqa: BLE001
            if strat_type == "continue":
                result.errors[sid] = f"{type(exc).__name__}: {exc}"
                _dead_letter(stage, spec, result.errors[sid])
                continue
            raise
        if op.kind == "sink":
            executed_sinks.append(sid)
            # a batch sink never consumes the ancestors stash — drop
            # it so it cannot reach a later drain stale
            ctx.stream_conf.pop("__sink_ancestors__", None)

    # stages upstream of a sink that actually ran (for the metrics
    # fallback: only those branches were computed)
    ancestors: set[str] = set()
    frontier = list(executed_sinks)
    while frontier:
        s = frontier.pop()
        for parent in stage_map[s].inputs:
            if parent not in ancestors:
                ancestors.add(parent)
                frontier.append(parent)
    _drain_observations(ctx, result, ancestors)
    return result


def run_pipeline(spark: SparkSession, spec: PipelineSpec) -> RunResult:
    """Execute a pipeline spec end-to-end (with global timeout if set).

    Applied [global.spark] confs are restored after the run — a
    pipeline's confs must not leak into the next one compiled on
    this session.

    The global timeout maps to a driver-side watchdog (reference:
    tokio timeout, src/core/pipeline.rs:93-96); for Spark we tag the
    pipeline's jobs and cancel the tag on expiry. Classic sessions
    use SparkContext job tags (plain names, cancellable from any
    thread — verified to kill a running stage in ~0 s); the
    session-level tag API is the Spark-Connect fallback, where
    operations are tracked server-side per session. (On classic,
    SparkSession.addTag's managed tags are thread-scoped, so
    interruptTag from a watchdog thread resolves nothing — hence the
    SparkContext path first.)
    """
    from conveyor_spark.streaming.ops import session_conf

    if spec.timeout_seconds:
        import threading

        tag = f"conveyor-{spec.name}-{id(spec)}"
        try:
            sc = spark.sparkContext
            sc.addJobTag(tag)
            # cancelJobsWithTag only marks tasks killed at their next
            # poll point by default — a task blocked in non-polling
            # work (HTTP read, Python UDF) would outlive the timeout.
            # Interrupt-on-cancel restores the thread interrupt the
            # old setJobGroup(..., interruptOnCancel=True) path had.
            sc.setInterruptOnCancel(True)
            cancel, cleanup = (
                lambda: sc.cancelJobsWithTag(tag),
                lambda: sc.removeJobTag(tag),
            )
        except Exception:  # Spark-Connect client: no SparkContext
            spark.addTag(tag)
            cancel, cleanup = (
                lambda: spark.interruptTag(tag),
                lambda: spark.removeTag(tag),
            )
        timer = threading.Timer(spec.timeout_seconds, cancel)
        timer.daemon = True
        timer.start()
        try:
            with session_conf(spark, _spark_conf(spec)):
                return compile_pipeline(spark, spec)
        finally:
            timer.cancel()
            cleanup()
    with session_conf(spark, _spark_conf(spec)):
        return compile_pipeline(spark, spec)
