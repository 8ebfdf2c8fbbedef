"""Guided pipeline builder — the reference's interactive stage builder
(src/cli/interactive_builder.rs: select function → show summary →
prompt per-parameter with metadata-driven validation → append the
stage), scripted over stdin so it also works in CI/tests.

Flow per stage:
1. function name (validated against the registry; empty lists options)
2. one-line summary + parameter table from Param metadata
3. stage id, input stage ids
4. each REQUIRED parameter (re-prompt until valid), then each optional
   parameter (empty keeps the default)
5. values are coerced by the declared Param.type and checked against
   allowed values / ranges by the registry's own `param_errors`
   (ParameterValidation parity)

The assembled stage is appended through scaffold.add_stage's validated
append (re-parse; restore on failure), so a built pipeline always
parses and every referenced input exists.
"""

from __future__ import annotations

import json
from typing import Any, Callable, TextIO

from conveyor_spark.errors import ConfigError, FunctionNotFound
from conveyor_spark.registry import Op, Param, get_function, param_errors

PromptFn = Callable[[str], str]


def _coerce(p: Param, raw: str) -> Any:
    if p.type == "integer":
        return int(raw)
    if p.type == "float":
        return float(raw)
    if p.type == "boolean":
        if raw.lower() in ("true", "yes", "y", "1"):
            return True
        if raw.lower() in ("false", "no", "n", "0"):
            return False
        raise ValueError(f"not a boolean: {raw!r}")
    if p.type in ("array", "object", "any"):
        # JSON first; an array also accepts comma-separated shorthand.
        # A declared object must BE valid JSON — silently keeping the
        # raw string would defeat the metadata-driven validation.
        try:
            return json.loads(raw)
        except json.JSONDecodeError:
            if p.type == "array":
                return [s.strip() for s in raw.split(",") if s.strip()]
            if p.type == "object":
                raise ValueError(f"not valid JSON for an object value: {raw!r}")
            return raw
    return raw


class StageBuilder:
    """One guided stage. ``ask`` supplies answers (stdin or canned)."""

    def __init__(self, ask: PromptFn, say: Callable[[str], None]):
        self.ask = ask
        self.say = say

    def _prompt_param(self, p: Param) -> Any | None:
        hint = f" ({p.type}"
        if p.allowed:
            hint += f"; one of {', '.join(p.allowed)}"
        if not p.required:
            hint += f"; default {json.dumps(p.default)}"
        hint += ")"
        while True:
            raw = self.ask(f"  {p.name}{hint}: ").strip()
            if not raw:
                if p.required:
                    self.say(f"    {p.name} is required — {p.desc}")
                    continue
                return None
            try:
                value = _coerce(p, raw)
            except ValueError as exc:
                self.say(f"    invalid: {exc}")
                continue
            if value is None and p.required:
                # typing 'null' for an object/any param coerces to
                # None — that must not satisfy a REQUIRED parameter
                self.say(f"    {p.name} is required — {p.desc}")
                continue
            # the same value check a run makes before the op body
            if errors := param_errors(p, value):
                self.say(f"    invalid: {'; '.join(errors)}")
                continue
            return value

    def select_function(self) -> Op:
        from conveyor_spark.registry import REGISTRY, _ensure_loaded

        _ensure_loaded()
        while True:
            name = self.ask("Function name (empty to list): ").strip()
            if not name:
                for n in sorted(REGISTRY):
                    self.say(f"  {n:26s} {REGISTRY[n].doc}")
                continue
            try:
                return get_function(name)
            except FunctionNotFound:
                self.say(f"  unknown function {name!r} — empty input lists all")

    def build_stage(self) -> dict[str, Any]:
        """Collect one stage dict: {id, function, inputs, config}."""
        op = self.select_function()
        self.say(f"\n{op.name} [{op.kind}] — {op.doc}")
        stage_id = ""
        while not stage_id:
            stage_id = self.ask("Stage ID: ").strip()
        if op.kind == "source":
            inputs: list[str] = []
        else:
            raw = self.ask("Input stage IDs (comma-separated): ").strip()
            inputs = [s.strip() for s in raw.split(",") if s.strip()]
        config: dict[str, Any] = {}
        req, opt = op.required_params(), op.optional_params()
        if req:
            self.say("Required parameters:")
            for p in req:
                config[p.name] = self._prompt_param(p)
        if opt:
            self.say("Optional parameters (empty keeps the default):")
            for p in opt:
                v = self._prompt_param(p)
                if v is not None:
                    config[p.name] = v
        return {"id": stage_id, "function": op.name, "inputs": inputs, "config": config}


def build_stage_into(
    pipeline_file: str,
    stdin: TextIO,
    stdout: TextIO,
) -> dict[str, Any]:
    """Run the guided flow once and append the result to a pipeline
    TOML via the validated append (scaffold.add_stage)."""
    import importlib

    from conveyor_spark.config.spec import load_spec
    from conveyor_spark.scaffold import add_stage

    # ops from the pipeline's wired plugin modules must be buildable
    for mod in load_spec(pipeline_file).plugins:
        try:
            importlib.import_module(mod)
        except ImportError:
            pass  # run_pipeline will surface the real error

    def ask(prompt: str) -> str:
        stdout.write(prompt)
        stdout.flush()
        line = stdin.readline()
        if not line:
            raise ConfigError("build: input ended before the stage was complete")
        return line.rstrip("\n")

    builder = StageBuilder(ask, lambda s: stdout.write(s + "\n"))
    stage = builder.build_stage()
    config_pairs = [f"{k}={json.dumps(v)}" for k, v in stage["config"].items()]
    add_stage(pipeline_file, stage["id"], stage["function"], stage["inputs"], config_pairs)
    stdout.write(f"added stage {stage['id']!r} ({stage['function']}) to {pipeline_file}\n")
    return stage
