"""End-to-end pipeline runs (reference: tests/dag_pipeline_test.rs)."""

from __future__ import annotations

import json

import pytest

from conveyor_spark.compiler import compile_pipeline, run_pipeline
from conveyor_spark.config.spec import parse_spec
from conveyor_spark.errors import ConfigError, ConveyorError


def test_json_filter_json(spark, tmp_path):
    # the reference's canonical e2e: json.read -> filter -> json.write
    # (dag_pipeline_test.rs:8-77): active users remain, Bob absent.
    src = tmp_path / "users.json"
    src.write_text(json.dumps([
        {"id": 1, "name": "Alice", "status": "active"},
        {"id": 2, "name": "Bob", "status": "inactive"},
        {"id": 3, "name": "Charlie", "status": "active"},
    ]))
    out = tmp_path / "out.json"
    spec = parse_spec({
        "pipeline": {"name": "e2e"},
        "stages": [
            {"id": "read", "function": "json.read",
             "config": {"path": str(src), "format": "records"}},
            {"id": "f", "function": "filter.apply", "inputs": ["read"],
             "config": {"column": "status", "operator": "==", "value": "active"}},
            {"id": "write", "function": "json.write", "inputs": ["f"],
             "config": {"path": str(out), "format": "records"}},
        ],
    })
    run_pipeline(spark, spec)
    text = out.read_text()
    assert "Alice" in text and "Charlie" in text and "Bob" not in text


def test_csv_roundtrip_and_fanout(spark, tmp_path):
    src = tmp_path / "in.csv"
    src.write_text("id,name,value\n1,a,100\n2,b,200\n3,c,50\n")
    out_csv = tmp_path / "out.csv"
    out_json = tmp_path / "out.jsonl"
    spec = parse_spec({
        "pipeline": {"name": "fanout"},
        "stages": [
            {"id": "read", "function": "csv.read", "config": {"path": str(src)}},
            {"id": "f", "function": "filter.apply", "inputs": ["read"],
             "config": {"column": "value", "operator": ">=", "value": 100}},
            # fan-out: same upstream consumed by two sinks
            {"id": "w1", "function": "csv.write", "inputs": ["f"],
             "config": {"path": str(out_csv)}},
            {"id": "w2", "function": "json.write", "inputs": ["f"],
             "config": {"path": str(out_json), "format": "jsonl"}},
        ],
    })
    run_pipeline(spark, spec)
    assert "a" in out_csv.read_text() and "c" not in out_csv.read_text()
    assert len(out_json.read_text().strip().splitlines()) == 2


def test_error_strategy_continue(spark, tmp_path):
    spec = parse_spec({
        "pipeline": {"name": "cont"},
        "global": {"error_handling": {"type": "continue"}},
        "stages": [
            {"id": "bad", "function": "csv.read", "config": {"path": "/nope/missing.csv"}},
            {"id": "f", "function": "filter.apply", "inputs": ["bad"],
             "config": {"column": "x", "value": 1}},
        ],
    })
    result = compile_pipeline(spark, spec)
    assert "bad" in result.errors
    assert result.skipped == ["f"]  # downstream skipped, run survives


def test_dead_letter_queue_and_top_level_error_handling(spark, tmp_path):
    """Reference shape: TOP-LEVEL [error_handling] with strategy= and
    a dead_letter_queue — a captured failure appends {stage_id, error,
    timestamp} to the DLQ file (the reference declares this config but
    never consumes it; we do)."""
    import json

    dlq_dir = tmp_path / "errors"
    spec = parse_spec({
        "pipeline": {"name": "dlq"},
        "error_handling": {
            "strategy": "continue",
            "dead_letter_queue": {"enabled": True, "path": str(dlq_dir) + "/"},
        },
        "stages": [
            {"id": "bad", "function": "csv.read", "config": {"path": "/nope/missing.csv"}},
        ],
    })
    result = compile_pipeline(spark, spec)
    assert "bad" in result.errors
    rec = json.loads((dlq_dir / "failed_records.jsonl").read_text().splitlines()[0])
    assert rec["stage_id"] == "bad"
    assert "error" in rec and "timestamp" in rec


def test_error_strategy_stop(spark):
    spec = parse_spec({
        "pipeline": {"name": "stop"},
        "stages": [
            {"id": "bad", "function": "csv.read", "config": {"path": "/nope/missing.csv"}},
        ],
    })
    with pytest.raises(Exception):
        compile_pipeline(spark, spec)


def test_error_strategy_retry_counts(spark, tmp_path):
    # reference: strategy.rs:103-176 (retry then fail)
    spec = parse_spec({
        "pipeline": {"name": "retry"},
        "stages": [
            {"id": "bad", "function": "csv.read",
             "config": {"path": "/nope/missing.csv"},
             "error_strategy": {"type": "retry", "max_retries": 2, "retry_delay_seconds": 0}},
        ],
    })
    with pytest.raises(ConveyorError, match="after 2 retries"):
        compile_pipeline(spark, spec)


def test_stage_pipeline_inline(spark, tmp_path):
    src = tmp_path / "nums.csv"
    src.write_text("id,v\n1,5\n2,50\n3,500\n")
    spec = parse_spec({
        "pipeline": {"name": "parent"},
        "stages": [
            {"id": "read", "function": "csv.read", "config": {"path": str(src)}},
            {"id": "sub", "function": "stage.pipeline", "inputs": ["read"],
             "config": {"inline": """
[pipeline]
name = "child"

[[stages]]
id = "big"
function = "filter.apply"
inputs = ["__parent__"]
[stages.config]
column = "v"
operator = ">="
value = 50
"""}},
        ],
    })
    result = compile_pipeline(spark, spec)
    assert result.outputs["sub"].count() == 2  # child output, not parent passthrough


def test_multi_input_spec(spark):
    spec = parse_spec({
        "pipeline": {"name": "join"},
        "stages": [
            {"id": "a", "function": "parquet.read",
             "config": {"path": "/root/testdata/sf0.001/nation.parquet"}},
            {"id": "b", "function": "parquet.read",
             "config": {"path": "/root/testdata/sf0.001/region.parquet"}},
            {"id": "j", "function": "join.apply", "inputs": ["a", "b"],
             "config": {"condition": "n_regionkey = r_regionkey", "how": "inner",
                        "broadcast": True}},
        ],
    })
    assert compile_pipeline(spark, spec).outputs["j"].count() == 25


def test_cli_validate_and_functions(tmp_path, capsys):
    from conveyor_spark.cli import main

    p = tmp_path / "p.toml"
    p.write_text("""
[pipeline]
name = "ok"

[[stages]]
id = "s"
function = "csv.read"
[stages.config]
path = "/tmp/x.csv"
""")
    assert main(["validate", str(p)]) == 0
    assert main(["functions"]) == 0
    out = capsys.readouterr().out
    assert "filter.apply" in out and "dedup.minhash" in out
    bad = tmp_path / "bad.toml"
    bad.write_text("[pipeline]\nname='x'\n")
    assert main(["validate", str(bad)]) == 2


def test_cli_validate_and_run_reject_a_missing_required_param(spark, tmp_path, capsys):
    """`validate` runs the same registry check `run` raises on: a
    stage missing a required param fails both, before any data is
    read."""
    from conveyor_spark.cli import main

    p = tmp_path / "p.toml"
    p.write_text("""
[pipeline]
name = "missing-path"

[[stages]]
id = "src"
function = "csv.read"
[stages.config]
headers = true
""")
    assert main(["validate", str(p)]) == 2
    err = capsys.readouterr().err
    assert ("invalid pipeline: stage 'src' (csv.read): "
            "missing required parameter 'path' (string)") in err
    assert main(["run", str(p)]) == 1
    err = capsys.readouterr().err
    assert "pipeline failed: csv.read: missing required parameter 'path'" in err


def test_cli_reference_verb_aliases(tmp_path, capsys):
    """list [module_type], stage describe, info — reference CLI verbs."""
    from conveyor_spark.cli import main

    assert main(["list", "sink"]) == 0
    out = capsys.readouterr().out
    assert "csv.write" in out and "csv.read" not in out
    assert main(["stage", "describe", "limit.apply"]) == 0
    assert '"name": "limit.apply"' in capsys.readouterr().out
    assert main(["info", "csv.read"]) == 0
    out = capsys.readouterr().out
    assert "Function: csv.read" in out and "Required:" in out
    assert main(["info", "no.such.op"]) == 2


def test_cli_run_dry_run(tmp_path, capsys, spark):
    from conveyor_spark.cli import main

    src = tmp_path / "in.jsonl"
    src.write_text('{"x": 1}\n{"x": 2}\n')
    sink = tmp_path / "out.json"
    p = tmp_path / "p.toml"
    p.write_text(f"""
[pipeline]
name = "dry"

[[stages]]
id = "s"
function = "json.read"
[stages.config]
path = "{src}"
format = "jsonl"

[[stages]]
id = "w"
function = "json.write"
inputs = ["s"]
[stages.config]
path = "{sink}"
""")
    assert main(["run", str(p), "--dry-run"]) == 0
    assert "dry run OK" in capsys.readouterr().out
    assert not sink.exists()  # no sink action ran


def test_error_strategy_alias_key_continue(spark):
    # 'strategy' key alias must resolve to the same continue semantics
    # as 'type' (the except-handler and the retry wrapper share the
    # kind resolution)
    spec = parse_spec({
        "pipeline": {"name": "cont-alias"},
        "global": {"error_handling": {"strategy": "continue"}},
        "stages": [
            {"id": "bad", "function": "csv.read", "config": {"path": "/nope/missing.csv"}},
        ],
    })
    result = compile_pipeline(spark, spec)
    assert "bad" in result.errors


def test_observe_metrics_collected_during_sink(spark, tmp_path):
    """observe.apply plants CollectMetrics; values arrive with the
    sink action — no extra job — in RunResult.metrics."""
    import json as _j

    from conveyor_spark.compiler import run_pipeline
    from conveyor_spark.config.spec import parse_spec

    src = tmp_path / "in.jsonl"
    src.write_text("\n".join(_j.dumps({"x": i}) for i in range(10)))
    out = tmp_path / "out.jsonl"
    spec = parse_spec({
        "pipeline": {"name": "obs-demo"},
        "stages": [
            {"id": "src", "function": "json.read",
             "config": {"path": str(src), "format": "jsonl"}},
            {"id": "watch", "function": "observe.apply", "inputs": ["src"],
             "config": {"name": "input_stats", "metrics": [
                 {"expr": "count(1)", "alias": "n"},
                 {"expr": "sum(x)", "alias": "sum_x"}]}},
            {"id": "big", "function": "filter.apply", "inputs": ["watch"],
             "config": {"expr": "x >= 5"}},
            {"id": "watch2", "function": "observe.apply", "inputs": ["big"],
             "config": {"name": "kept"}},
            {"id": "sink", "function": "json.write", "inputs": ["watch2"],
             "config": {"path": str(out), "format": "jsonl"}},
        ],
    })
    result = run_pipeline(spark, spec)
    assert not result.errors
    assert result.metrics["input_stats"] == {"n": 10, "sum_x": 45}
    assert result.metrics["kept"] == {"n_rows": 5}


def test_observe_unexecuted_branch_reports_nothing(spark, tmp_path):
    import json as _j

    from conveyor_spark.compiler import compile_pipeline
    from conveyor_spark.config.spec import parse_spec

    src = tmp_path / "in2.jsonl"
    src.write_text(_j.dumps({"x": 1}))
    spec = parse_spec({
        "pipeline": {"name": "obs-dangling"},
        "stages": [
            {"id": "src", "function": "json.read",
             "config": {"path": str(src), "format": "jsonl"}},
            {"id": "watch", "function": "observe.apply", "inputs": ["src"],
             "config": {"name": "dangling"}},
        ],
    })
    result = compile_pipeline(spark, spec, run_sinks=True)
    assert "dangling" not in result.metrics  # no action -> no values, no hang


def test_observe_validates(spark, ctx, tmp_path):
    import pytest as _pytest

    from conveyor_spark.errors import ConfigError
    from tests.conftest import run_op

    df = spark.range(3)
    with _pytest.raises(ConfigError):
        run_op(ctx, "observe.apply", [df])  # name required
    with _pytest.raises(ConfigError):
        run_op(ctx, "observe.apply", [df], name="m",
               metrics=[{"expr": "count(1)"}])  # alias required


def test_dead_letter_queue_unwritable_path_does_not_abort(spark, tmp_path):
    """The DLQ append runs inside the `continue` handler; an
    unwritable DLQ path must warn, not fail a pipeline whose strategy
    said to keep going."""
    import warnings

    blocker = tmp_path / "not_a_dir"
    blocker.write_text("file, not a directory")
    spec = parse_spec({
        "pipeline": {"name": "dlq_bad_path"},
        "error_handling": {
            "strategy": "continue",
            "dead_letter_queue": {
                "enabled": True,
                # makedirs of a path UNDER a regular file -> OSError
                "path": str(blocker / "sub" / "dlq.jsonl"),
            },
        },
        "stages": [
            {"id": "bad", "function": "csv.read", "config": {"path": "/nope/missing.csv"}},
        ],
    })
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        result = compile_pipeline(spark, spec)
    assert "bad" in result.errors  # failure captured, run completed
    assert any("dead-letter queue write failed" in str(w.message) for w in caught)


def test_timeout_completes_fast_pipeline(spark, tmp_path):
    """A pipeline well under its timeout runs normally; the watchdog
    tag is added and removed (session tag API — works on classic AND
    Spark-Connect sessions, unlike SparkContext.setJobGroup)."""
    src = tmp_path / "in.jsonl"
    src.write_text('{"x": 1}\n{"x": 2}\n')
    out = tmp_path / "out.jsonl"
    spec = parse_spec({
        "pipeline": {"name": "fast-with-timeout"},
        "global": {"timeout_seconds": 300},
        "stages": [
            {"id": "src", "function": "json.read",
             "config": {"path": str(src), "format": "jsonl"}},
            {"id": "sink", "function": "json.write", "inputs": ["src"],
             "config": {"path": str(out), "format": "jsonl"}},
        ],
    })
    result = run_pipeline(spark, spec)
    assert not result.errors
    assert out.read_text().count("\n") == 2
    assert not spark.sparkContext.getJobTags()  # watchdog tag cleaned up


def test_timeout_interrupts_slow_pipeline(spark, tmp_path):
    """The watchdog interrupts jobs tagged by a pipeline that blows
    its budget: a 60 s-sleeping UDF under a 3 s timeout must fail in
    far less than the sleep, with the failure captured per strategy."""
    import time as _time

    src = tmp_path / "in.jsonl"
    src.write_text('{"x": 1}\n')
    out = tmp_path / "slow_out.jsonl"
    spec = parse_spec({
        "pipeline": {"name": "slow-with-timeout"},
        "global": {"timeout_seconds": 3},
        "error_handling": {"strategy": "continue"},
        "stages": [
            {"id": "src", "function": "json.read",
             "config": {"path": str(src), "format": "jsonl"}},
            {"id": "slow", "function": "py.eval", "inputs": ["src"],
             "config": {"script":
                        "import time\n"
                        "def transform(row):\n"
                        "    time.sleep(60)\n"
                        "    return row\n"}},
            {"id": "sink", "function": "json.write", "inputs": ["slow"],
             "config": {"path": str(out), "format": "jsonl"}},
        ],
    })
    t0 = _time.time()
    result = run_pipeline(spark, spec)
    elapsed = _time.time() - t0
    assert elapsed < 45, f"watchdog did not interrupt (took {elapsed:.1f}s)"
    assert result.errors  # the interrupted stage surfaced as a failure
    assert not spark.sparkContext.getJobTags()


def test_global_spark_conf_and_state_store(spark, tmp_path):
    """[global.spark] runtime confs and [global] state_store apply at
    compile; a static (non-runtime) conf is a ConfigError naming it."""
    src = tmp_path / "u.json"
    src.write_text(json.dumps([{"id": 1}]))
    base_stages = [
        {"id": "read", "function": "json.read",
         "config": {"path": str(src), "format": "records"}},
    ]
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    try:
        spec = parse_spec({
            "global": {
                "state_store": "rocksdb",
                "spark": {"spark.sql.autoBroadcastJoinThreshold": "32m"},
            },
            "stages": base_stages,
        })
        compile_pipeline(spark, spec, run_sinks=False)
        assert spark.conf.get(key).endswith("RocksDBStateStoreProvider")
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "32m"

        # static conf -> ConfigError naming the key, not a stack trace
        bad = parse_spec({
            "global": {"spark": {"spark.sql.warehouse.dir": "/tmp/x"}},
            "stages": base_stages,
        })
        with pytest.raises(ConveyorError, match="warehouse"):
            compile_pipeline(spark, bad, run_sinks=False)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")

    with pytest.raises(ConveyorError, match="state_store"):
        parse_spec({
            "global": {"state_store": "leveldb"},
            "stages": base_stages,
        })


def test_run_pipeline_restores_global_spark_confs(spark, tmp_path):
    """Review finding: one pipeline's [global.spark] confs leaked
    into every later pipeline on the shared session; run_pipeline
    must restore prior values (compile_pipeline alone keeps them —
    its lazy outputs still need them at action time)."""
    from conveyor_spark.compiler import run_pipeline

    src = tmp_path / "u.json"
    src.write_text(json.dumps([{"id": 1}]))
    out = tmp_path / "o.json"
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spec = parse_spec({
        "global": {"spark": {key: "16m"}},
        "stages": [
            {"id": "r", "function": "json.read",
             "config": {"path": str(src), "format": "records"}},
            {"id": "w", "function": "json.write", "inputs": ["r"],
             "config": {"path": str(out), "format": "records"}},
        ],
    })
    run_pipeline(spark, spec)
    assert out.exists()
    assert spark.conf.get(key) == before  # restored, not leaked


def test_run_pipeline_restores_confs_set_before_a_static_key(spark, tmp_path):
    """A static key fails part-way through [global.spark]: the
    runtime key set before it must be put back, not left on the
    shared session, and the static key is a ConfigError naming it."""
    src = tmp_path / "u.json"
    src.write_text(json.dumps([{"id": 1}]))
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spec = parse_spec({
        "global": {"spark": {key: "16m",
                             "spark.sql.warehouse.dir": "/tmp/x"}},
        "stages": [
            {"id": "r", "function": "json.read",
             "config": {"path": str(src), "format": "records"}},
        ],
    })
    with pytest.raises(ConfigError, match="warehouse"):
        run_pipeline(spark, spec)
    assert spark.conf.get(key) == before
