"""Guided builder + plugin registry verbs (reference parity:
src/cli/interactive_builder.rs and src/cli/plugin.rs, tested the way
the reference tests its CLI — canned input, produced TOML must
validate and run)."""

from __future__ import annotations

import io
import json

import pytest

from conveyor_spark.builder import build_stage_into
from conveyor_spark.errors import ConfigError
from conveyor_spark.plugin_registry import add_plugin, plugin_info, search_plugins


@pytest.fixture()
def pipeline_toml(tmp_path):
    p = tmp_path / "p.toml"
    p.write_text(
        '[pipeline]\nname = "built"\n\n'
        '[[stages]]\nid = "src"\nfunction = "json.read"\n'
        '[stages.config]\npath = "%s"\nformat = "jsonl"\n' % (tmp_path / "in.jsonl")
    )
    (tmp_path / "in.jsonl").write_text('{"x": 1, "name": "a"}\n{"x": 2, "name": "b"}\n')
    return str(p)


def _drive(pipeline, answers):
    stdin = io.StringIO("".join(a + "\n" for a in answers))
    stdout = io.StringIO()
    stage = build_stage_into(pipeline, stdin, stdout)
    return stage, stdout.getvalue()


def test_build_filter_stage(pipeline_toml):
    # function, stage id, inputs, then filter.apply's optional params:
    # column, operator, value, expr (all skipped except expr)
    stage, out = _drive(
        pipeline_toml,
        ["filter.apply", "keep", "src", "", "", "", "x > 1"],
    )
    assert stage == {
        "id": "keep", "function": "filter.apply", "inputs": ["src"],
        "config": {"expr": "x > 1"},
    }
    assert "filter.apply [transform]" in out
    # the produced TOML validates and carries the stage
    from conveyor_spark.config.spec import load_spec

    spec = load_spec(pipeline_toml)
    assert [s.id for s in spec.stages] == ["src", "keep"]
    assert spec.stage_map()["keep"].config == {"expr": "x > 1"}


def test_build_reprompts_on_invalid(pipeline_toml):
    # unknown function first; then json.read with a bad enum value
    # for format (re-prompted), then valid
    stage, out = _drive(
        pipeline_toml,
        ["no.such.op", "json.read", "extra", "/tmp/x.json", "xml", "jsonl", ""],
    )
    assert "unknown function 'no.such.op'" in out
    assert "invalid: parameter 'format': 'xml' not in allowed values" in out
    assert stage["config"] == {"path": "/tmp/x.json", "format": "jsonl"}


def test_build_required_param_must_be_given(pipeline_toml):
    # map.apply: required expression + output_column; first answer
    # empty -> re-prompt
    stage, out = _drive(
        pipeline_toml,
        ["map.apply", "derive", "src", "", "x * 2", "x2"],
    )
    assert "is required" in out
    assert stage["config"] == {"expression": "x * 2", "output_column": "x2"}


def test_build_coerces_types(pipeline_toml):
    # limit.apply: optional integer n
    stage, _ = _drive(pipeline_toml, ["limit.apply", "cap", "src", "10", ""])
    assert stage["config"] == {"n": 10}
    assert isinstance(stage["config"]["n"], int)


def test_build_eof_is_clean_error(pipeline_toml):
    stdin = io.StringIO("filter.apply\n")  # ends mid-flow
    with pytest.raises(ConfigError, match="input ended"):
        build_stage_into(pipeline_toml, stdin, io.StringIO())


# --- plugin registry ---


@pytest.fixture()
def registry(tmp_path):
    reg = tmp_path / "registry.json"
    reg.write_text(json.dumps({
        "version": "1.0",
        "plugins": {
            "uppercase": {
                "version": "0.1.0",
                "description": "Example transform plugin: uppercase a column",
                "module": "examples.plugins.uppercase",
            },
            "nomodule": {"version": "0.1.0", "description": "native-only plugin"},
        },
    }))
    return str(reg)


def test_plugin_search(registry):
    hits = search_plugins("upper", registry)
    assert [h["name"] for h in hits] == ["uppercase"]
    assert search_plugins("zzz", registry) == []
    # description matches too
    assert [h["name"] for h in hits] == ["uppercase"]


def test_plugin_info(registry):
    info = plugin_info("uppercase", registry)
    assert info["module"] == "examples.plugins.uppercase"
    with pytest.raises(ConfigError, match="not in registry"):
        plugin_info("ghost", registry)


def test_plugin_add_wires_module_and_pipeline_runs(registry, pipeline_toml, spark):
    module = add_plugin(pipeline_toml, "uppercase", registry)
    assert module == "examples.plugins.uppercase"
    # idempotent
    add_plugin(pipeline_toml, "uppercase", registry)
    from conveyor_spark.config.spec import load_spec

    spec = load_spec(pipeline_toml)
    assert spec.plugins == ["examples.plugins.uppercase"]

    # the wired op is usable end-to-end
    import io as _io

    stdin = _io.StringIO("uppercase.apply\nup\nsrc\nname\n\n")
    build_stage_into(pipeline_toml, stdin, _io.StringIO())
    from conveyor_spark.compiler import run_pipeline

    result = run_pipeline(spark, load_spec(pipeline_toml))
    rows = {r["name"] for r in result.outputs["up"].collect()}
    assert rows == {"A", "B"}


def test_plugin_add_without_module_errors(registry, pipeline_toml):
    with pytest.raises(ConfigError, match="no 'module'"):
        add_plugin(pipeline_toml, "nomodule", registry)


def test_plugin_add_ignores_stage_level_plugins_key(registry, tmp_path):
    """A stage config carrying its own `plugins` key must not be
    rewritten — only [global].plugins is."""
    p = tmp_path / "p.toml"
    p.write_text(
        '[pipeline]\nname = "t"\n\n[global]\n\n'
        '[[stages]]\nid = "s"\nfunction = "json.read"\n'
        '[stages.config]\npath = "/tmp/x.json"\nplugins = ["unrelated"]\n'
    )
    add_plugin(str(p), "uppercase", registry)
    from conveyor_spark.config.spec import load_spec

    spec = load_spec(str(p))
    assert spec.plugins == ["examples.plugins.uppercase"]
    assert spec.stage_map()["s"].config["plugins"] == ["unrelated"]


def test_coerce_object_rejects_bad_json():
    """A typo'd object value must re-prompt (ValueError), not silently
    pass through as a string; array keeps its comma shorthand."""
    from conveyor_spark.builder import _coerce
    from conveyor_spark.registry import P

    p = P("headers", "object")
    assert _coerce(p, '{"a": 1}') == {"a": 1}
    with pytest.raises(ValueError, match="object"):
        _coerce(p, "{not json")
    assert _coerce(P("cols", "array"), "a, b") == ["a", "b"]
    assert _coerce(P("free", "any"), "plain text") == "plain text"


def test_plugin_add_global_header_with_trailing_comment(registry, tmp_path):
    """`[global]  # comment` is still the [global] header; plugin add
    must extend it rather than prepending a duplicate table."""
    p = tmp_path / "c.toml"
    p.write_text(
        '[global]  # engine settings\n'
        'name = "commented"\n\n'
        '[[stages]]\nid = "src"\nfunction = "json.read"\n'
        '[stages.config]\npath = "/tmp/x.jsonl"\nformat = "jsonl"\n'
    )
    module = add_plugin(str(p), "uppercase", registry)
    text = p.read_text()
    assert text.count("[global]") == 1
    assert f'plugins = ["{module}"]' in text
    import tomllib

    with open(p, "rb") as f:
        parsed = tomllib.load(f)
    assert parsed["global"]["plugins"] == [module]
