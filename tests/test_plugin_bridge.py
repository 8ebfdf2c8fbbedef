"""End-to-end test of the out-of-process plugin bridge: registry
`plugin add` wires examples.plugins.word_stats_subprocess into a
pipeline, and the op's work happens in a child process exchanging
Arrow IPC frames with the executor (reference FFI analogue,
src/core/stage.rs:345-394)."""

from __future__ import annotations

import pytest

from tests.conftest import run_op


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "one two three"), (2, "  spaced   out  "), (3, None), (4, "")],
        ["doc_id", "text"],
    )


def test_wordstats_subprocess_roundtrip(ctx, docs):
    import examples.plugins.word_stats_subprocess  # noqa: F401 — registers the op

    out = run_op(ctx, "wordstats.apply", [docs], column="text")
    got = {r["doc_id"]: r["word_count"] for r in out.collect()}
    assert got == {1: 3, 2: 2, 3: None, 4: 0}
    # row alignment: original columns intact next to the appended one
    assert out.columns == ["doc_id", "text", "word_count"]


def test_wordstats_partitioned(ctx, docs):
    import examples.plugins.word_stats_subprocess  # noqa: F401

    out = run_op(ctx, "wordstats.apply", [docs.repartition(3)], column="text",
                 output_column="n_tokens")
    assert {r["doc_id"]: r["n_tokens"] for r in out.collect()} == {
        1: 3, 2: 2, 3: None, 4: 0,
    }


def test_wordstats_config_errors(ctx, docs):
    import examples.plugins.word_stats_subprocess  # noqa: F401
    from conveyor_spark.errors import ConfigError

    with pytest.raises(ConfigError, match="wordstats.apply: missing required parameter 'column'"):
        run_op(ctx, "wordstats.apply", [docs])
    with pytest.raises(ConfigError, match="no column"):
        run_op(ctx, "wordstats.apply", [docs], column="nope")


def test_plugin_add_wires_bridge_into_pipeline(tmp_path, capsys, spark):
    """The registry flow the reference has for FFI plugins: `plugin
    add` writes the module into [global] plugins, and the pipeline
    then resolves the subprocess-backed op like any built-in."""
    import json as _json

    from conveyor_spark.cli import main as cli_main
    from conveyor_spark.compiler import compile_pipeline
    from conveyor_spark.config.spec import load_spec

    data = tmp_path / "docs.jsonl"
    data.write_text(
        "\n".join(
            _json.dumps(d)
            for d in [
                {"doc_id": 1, "text": "alpha beta"},
                {"doc_id": 2, "text": "gamma"},
            ]
        )
    )
    toml = tmp_path / "p.toml"
    toml.write_text(f"""
[global]
name = "bridge_demo"

[[stages]]
id = "src"
function = "json.read"
config = {{ path = "{data}", format = "jsonl" }}

[[stages]]
id = "stats"
function = "wordstats.apply"
inputs = ["src"]
config = {{ column = "text" }}
""")
    assert cli_main(["plugin", "add", str(toml), "wordstats"]) == 0
    assert "wordstats" in capsys.readouterr().out
    assert "examples.plugins.word_stats_subprocess" in toml.read_text()

    result = compile_pipeline(spark, load_spec(str(toml)), run_sinks=False)
    assert not result.errors
    rows = {r["doc_id"]: r["word_count"] for r in result.outputs["stats"].collect()}
    assert rows == {1: 2, 2: 1}
