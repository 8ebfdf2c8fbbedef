"""Self-documenting operator metadata: `info` / `describe` rendering
and OPERATORS.md generation.

Reference parity: docs/metadata-system.md + src/cli/mod.rs
show_function_help / describe_function_json — same sections (header,
description, required/optional parameters with types, defaults and
allowed values, example config, tags), same "use list to discover"
error shape.
"""

from __future__ import annotations

import json
from typing import Any

from conveyor_spark.registry import REGISTRY, Op, _ensure_loaded, get_function

_RULE = "=" * 70
_DASH = "-" * 70


def _fmt_default(v: Any) -> str:
    if v is None:
        return "none"
    if isinstance(v, bool):
        return "true" if v else "false"
    return json.dumps(v) if isinstance(v, (list, dict, str)) else str(v)


def _param_lines(p, show_default: bool) -> list[str]:
    head = f"  • {p.name} ({p.type})"
    if show_default:
        head += f" [default: {_fmt_default(p.default)}]"
    lines = [head]
    if p.desc:
        lines.append(f"    {p.desc}")
    if p.allowed:
        lines.append(f"    Allowed values: {', '.join(p.allowed)}")
    if p.aliases:
        lines.append(f"    Also accepted: {', '.join(p.aliases)}")
    if p.min is not None or p.max is not None:
        lo = "-inf" if p.min is None else _fmt_default(p.min)
        hi = "inf" if p.max is None else _fmt_default(p.max)
        lines.append(f"    Range: {lo} .. {hi}")
    return lines


def render_info(name: str) -> str:
    """Human-readable function help (reference show_function_help)."""
    op = get_function(name)
    out: list[str] = ["", _RULE, f"Function: {op.name}", f"Category: {op.kind}", _RULE]
    out += ["", op.doc or "(no description)"]
    long_doc = (op.fn.__doc__ or "").strip()
    if long_doc and long_doc.splitlines()[0] != op.doc:
        out += ["", long_doc]
    out += ["", "PARAMETERS:", _DASH]
    if op.params is None:
        out.append("  (metadata not declared)")
    elif not op.params:
        out.append("  (none — this function takes no config parameters)")
    else:
        req, opt = op.required_params(), op.optional_params()
        if req:
            out.append("\nRequired:")
            for p in req:
                out += _param_lines(p, show_default=False)
        if opt:
            out.append("\nOptional:")
            for p in opt:
                out += _param_lines(p, show_default=True)
    if op.example:
        out += ["", "EXAMPLE:", _DASH, "", f"  [stages.config]  # {op.name}"]
        for k, v in op.example:
            out.append(f"    {k} = {_fmt_default(v)}")
    if op.tags:
        out += ["", "TAGS:", _DASH, f"  {', '.join(op.tags)}"]
    out.append("")
    return "\n".join(out)


def describe_json(name: str) -> dict[str, Any]:
    """Machine-readable metadata (reference describe_function_json)."""
    op = get_function(name)
    return {
        "name": op.name,
        "category": op.kind,
        "description": op.doc,
        "min_inputs": op.min_inputs,
        "max_inputs": op.max_inputs,
        "produces_output": op.produces_output,
        "streaming_capable": op.streaming_capable,
        "parameters": [
            {
                "name": p.name,
                "type": p.type,
                "required": p.required,
                "default": p.default,
                "description": p.desc,
                **({"allowed_values": list(p.allowed)} if p.allowed else {}),
                **({"aliases": list(p.aliases)} if p.aliases else {}),
                **({"min": p.min} if p.min is not None else {}),
                **({"max": p.max} if p.max is not None else {}),
            }
            for p in (op.params or ())
        ],
        "example": dict(op.example) if op.example else None,
        "tags": list(op.tags),
    }


def _md_param_row(p) -> str:
    constraint = ""
    if p.allowed:
        constraint = " \\| ".join(p.allowed + p.aliases)
    elif p.min is not None or p.max is not None:
        constraint = f"{p.min if p.min is not None else ''}..{p.max if p.max is not None else ''}"
    return (
        f"| `{p.name}` | {p.type} | {'yes' if p.required else 'no'} | "
        f"`{_fmt_default(p.default)}` | {p.desc}"
        f"{(' (' + constraint + ')') if constraint else ''} |"
    )


def generate_operators_md() -> str:
    """OPERATORS.md content, generated from registry metadata so docs
    can never drift from code."""
    _ensure_loaded()
    by_kind: dict[str, list[Op]] = {"source": [], "transform": [], "sink": []}
    for op in sorted(REGISTRY.values(), key=lambda o: o.name):
        by_kind.setdefault(op.kind, []).append(op)
    out = [
        "# Operators",
        "",
        "Generated from registry metadata (`python tools/gen_operator_docs.py`).",
        f"{len(REGISTRY)} registered functions.",
        "",
        "## `[global]` pipeline configuration",
        "",
        "| key | type | description |",
        "|---|---|---|",
        "| `variables` | table | `{{name}}` interpolation values; `${ENV}` resolves inside them |",
        "| `plugins` | array | Python modules imported at compile; each calls `register()` |",
        "| `timeout_seconds` | number | Driver-side watchdog: cancels the pipeline's jobs on expiry |",
        "| `error_handling` | table | Default stage strategy: `type` = stop/continue/retry, `max_retries`, `retry_delay_seconds`, `dead_letter_queue` |",
        "| `state_store` | string | Streaming state-store provider: `hdfs` (default — in-memory with per-commit snapshots) or `rocksdb` (off-heap, incremental changelog checkpointing; pick when per-partition state exceeds executor heap) |",
        "| `spark` | table | Arbitrary **runtime** Spark confs applied at compile, e.g. `\"spark.sql.shuffle.partitions\" = \"64\"` or any `spark.sql.streaming.stateStore.*` knob; a non-runtime key is a ConfigError naming it |",
    ]
    for kind, title in [("source", "Sources"), ("transform", "Transforms"), ("sink", "Sinks")]:
        ops = by_kind.get(kind, [])
        out += ["", f"## {title} ({len(ops)})"]
        for op in ops:
            out += ["", f"### `{op.name}`", "", op.doc or ""]
            flags = []
            if op.streaming_capable:
                flags.append("streaming-capable")
            if op.max_inputs is None:
                flags.append("variadic inputs")
            elif op.max_inputs and op.min_inputs == op.max_inputs > 1:
                flags.append(f"exactly {op.max_inputs} inputs")
            elif op.max_inputs and op.max_inputs > 1:
                flags.append(f"up to {op.max_inputs} inputs")
            if flags:
                out.append(f"*({', '.join(flags)})*")
            if op.params:
                out += [
                    "",
                    "| parameter | type | required | default | description |",
                    "|---|---|---|---|---|",
                ]
                out += [_md_param_row(p) for p in op.params]
            elif op.params is not None:
                out += ["", "No config parameters."]
            if op.example:
                out += ["", "```toml", "[stages.config]"]
                for k, v in op.example:
                    out.append(f"{k} = {json.dumps(v)}")
                out += ["```"]
    out.append("")
    return "\n".join(out)
