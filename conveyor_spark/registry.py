"""Function registry: stage-function name -> operator.

Mirrors the reference's built-in registry (src/modules/mod.rs:16-120,
23 functions) plus our Spark-first extensions (join/union/window/...).

Operator calling convention (uniform so the compiler can fold any
stage):

    fn(ctx: OpContext, inputs: list[DataFrame], config: dict) -> DataFrame | None

- sources ignore ``inputs``;
- single-input transforms use ``inputs[0]``;
- multi-input ops (join, union, ...) use the whole list (ordered as
  the stage's ``inputs`` spec — the reference models fan-in
  structurally but never consumes it, src/core/stage.rs:38-42);
- sinks return None (reference: produces_output() = false,
  src/modules/sinks/csv.rs:76-78).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from conveyor_spark.errors import FunctionNotFound


@dataclass
class OpContext:
    """Execution context handed to every operator."""

    spark: SparkSession
    variables: dict[str, str] = field(default_factory=dict)
    # observe.apply stashes {obs, stage, df, exprs} here; the compiler
    # drains them into RunResult.metrics after the sinks run
    observations: dict[str, Any] = field(default_factory=dict)
    # set by the compiler before each op call (ops that need to know
    # their own stage id, e.g. observe.apply's lineage tracking)
    stage_id: Optional[str] = None
    # stateful streaming ops stash drain-time requests here (e.g.
    # state_partitions — spark.sql.shuffle.partitions at stream START
    # sizes the state stores); the streaming drain (stdout_stream
    # sink / run_available_now) applies them, env knobs still override
    stream_conf: dict[str, Any] = field(default_factory=dict)
    # multi-consumer decision tables ops persist() for the duration
    # of ONE pipeline run (hot-gram lists, LM count tables, PQ code
    # tables, ...). Registered via ctx.persist and released by the
    # compiler after the sinks execute, so a long-lived multi-query
    # session does not accumulate ~20 pinned tables per pipeline
    # (r14; VERDICT r13 #6). unpersist is only a hint-removal — a
    # caller re-executing a returned lazy DataFrame later still gets
    # identical results, it just recomputes.
    persisted: list = field(default_factory=list)
    # the build-scoped memo behind ctx.memo: explicit keys (a recipe
    # tag plus the frame objects and parameters the value derives
    # from — DataFrames hash by identity), cleared with the persisted
    # handles, so nothing in it is reused across builds
    memos: dict = field(default_factory=dict)

    def persist(self, df: DataFrame) -> DataFrame:
        """persist() + register for post-sink release."""
        out = df.persist()
        self.persisted.append(out)
        return out

    def memo(self, key: tuple, thunk: Callable[[], Any]) -> Any:
        """thunk() once per key per build; later calls share the value."""
        if key not in self.memos:
            self.memos[key] = thunk()
        return self.memos[key]

    def release_persisted(self) -> None:
        self.memos.clear()
        while self.persisted:
            try:
                self.persisted.pop().unpersist(False)
            except Exception:  # noqa: BLE001 — release is best-effort
                pass


OpFn = Callable[[OpContext, list[DataFrame], dict[str, Any]], Optional[DataFrame]]


@dataclass(frozen=True)
class Param:
    """Structured config-parameter metadata (reference parity:
    ConfigParameter + ParameterValidation, docs/metadata-system.md).

    Powers the self-documenting CLI (`info`, `describe`), the guided
    builder, OPERATORS.md generation, and spec validation warnings."""

    name: str
    type: str = "string"  # string|integer|float|boolean|array|object|any
    required: bool = False
    default: Any = None
    desc: str = ""
    allowed: tuple[str, ...] | None = None
    min: float | None = None
    max: float | None = None
    # True = value is a per-row/per-run Handlebars template, so an
    # unresolved {{name}} inside it is expected, not a typo
    templated: bool = False


def P(
    name: str,
    type: str = "string",
    required: bool = False,
    default: Any = None,
    desc: str = "",
    allowed: tuple[str, ...] | list[str] | None = None,
    min: float | None = None,
    max: float | None = None,
    templated: bool = False,
) -> Param:
    """Terse Param constructor for @register(params=[...]) blocks."""
    return Param(
        name=name, type=type, required=required, default=default, desc=desc,
        allowed=tuple(allowed) if allowed is not None else None, min=min, max=max,
        templated=templated,
    )


@dataclass(frozen=True)
class Op:
    name: str
    fn: OpFn
    kind: str  # "source" | "transform" | "sink"
    min_inputs: int = 1
    max_inputs: int | None = 1  # None = unbounded
    produces_output: bool = True
    streaming_capable: bool = False
    doc: str = ""
    # None = metadata not declared (the test suite forbids this);
    # () = op takes no config parameters.
    params: tuple[Param, ...] | None = None
    example: tuple[tuple[str, Any], ...] | None = None  # sample config
    tags: tuple[str, ...] = ()

    def required_params(self) -> list[Param]:
        return [p for p in (self.params or ()) if p.required]

    def optional_params(self) -> list[Param]:
        return [p for p in (self.params or ()) if not p.required]


REGISTRY: dict[str, Op] = {}


def register(
    name: str,
    kind: str,
    *,
    min_inputs: int | None = None,
    max_inputs: int | None | str = "default",
    produces_output: bool | None = None,
    streaming_capable: bool = False,
    doc: str = "",
    params: list[Param] | tuple[Param, ...] | None = None,
    example: dict[str, Any] | None = None,
    tags: list[str] | tuple[str, ...] = (),
) -> Callable[[OpFn], OpFn]:
    """Decorator registering an operator under its stage-function name."""

    if min_inputs is None:
        min_inputs = 0 if kind == "source" else 1
    if max_inputs == "default":
        max_inputs = 0 if kind == "source" else 1
    if produces_output is None:
        produces_output = kind != "sink"

    def deco(fn: OpFn) -> OpFn:
        REGISTRY[name] = Op(
            name=name,
            fn=fn,
            kind=kind,
            min_inputs=min_inputs,
            max_inputs=max_inputs,  # type: ignore[arg-type]
            produces_output=produces_output,
            streaming_capable=streaming_capable,
            doc=doc or (fn.__doc__ or "").strip().splitlines()[0] if fn.__doc__ else doc,
            params=tuple(params) if params is not None else None,
            example=tuple(example.items()) if example else None,
            tags=tuple(tags),
        )
        return fn

    return deco


def validate_config(op: Op, config: dict[str, Any]) -> list[str]:
    """Metadata-driven config check: unknown keys, missing required
    params, out-of-range / disallowed values. Returns warnings (the
    compiler stays permissive — ops do their own hard validation);
    the `validate` CLI verb and the guided builder surface these."""
    warnings: list[str] = []
    if op.params is None:
        return warnings
    known = {p.name for p in op.params}
    # stage-level keys the compiler consumes for any op
    universal = {"cache"}
    for key in config:
        if key.startswith("_"):  # test/injection hooks
            continue
        if key not in known and key not in universal:
            warnings.append(f"unknown parameter {key!r} (known: {sorted(known)})")
    for p in op.params:
        if p.required and config.get(p.name) is None:
            warnings.append(f"missing required parameter {p.name!r} ({p.type})")
            continue
        v = config.get(p.name)
        if v is None:
            continue
        if p.allowed is not None and isinstance(v, str) and v not in p.allowed:
            warnings.append(
                f"parameter {p.name!r}: {v!r} not in allowed values {list(p.allowed)}"
            )
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            if p.min is not None and v < p.min:
                warnings.append(f"parameter {p.name!r}: {v} < min {p.min}")
            if p.max is not None and v > p.max:
                warnings.append(f"parameter {p.name!r}: {v} > max {p.max}")
    return warnings


def get_function(name: str) -> Op:
    """Resolve a function name (reference: src/core/dag_builder.rs:196-269)."""
    # Import operator modules lazily so `import conveyor_spark` stays cheap
    _ensure_loaded()
    try:
        return REGISTRY[name]
    except KeyError:
        raise FunctionNotFound(
            f"unknown function {name!r}; available: {sorted(REGISTRY)}"
        ) from None


_LOADED = False


def _ensure_loaded() -> None:
    global _LOADED
    if _LOADED:
        return
    # Importing these modules runs their @register decorators.
    from conveyor_spark import sources, sinks, transforms, datapipe  # noqa: F401

    _LOADED = True
