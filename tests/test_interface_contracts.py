"""Regression tests for declared-interface bugs a review pass found:
registered examples / param metadata promising forms the code
rejected (array types, alias keys, duration strings, documented
defaults), plus two silent-wrong-data paths (range-left NULL rows,
stage.pipeline's global splice registration)."""

from __future__ import annotations

import pytest

from conveyor_spark.durations import parse_duration_seconds
from conveyor_spark.errors import ConfigError
from tests.conftest import run_op


def test_parse_duration_seconds_forms():
    assert parse_duration_seconds(90) == 90.0
    assert parse_duration_seconds("90") == 90.0
    assert parse_duration_seconds("10 minutes") == 600.0
    assert parse_duration_seconds("2 hours") == 7200.0
    assert parse_duration_seconds("1.5s") == 1.5
    assert parse_duration_seconds("500 ms") == 0.5
    assert parse_duration_seconds("1 day") == 86400.0
    with pytest.raises(ConfigError, match="cannot parse"):
        parse_duration_seconds("a fortnight")


def test_range_left_null_columns_not_duplicated(ctx, spark):
    """A matched point row containing a NULL must not ALSO be emitted
    as unmatched (the anti-join has to be null-safe)."""
    points = spark.createDataFrame(
        [(1, None, 5.0), (2, "ok", 50.0)], "id INT, v STRING, ts DOUBLE"
    )
    iv = spark.createDataFrame([(0.0, 10.0, "w1")], "lo DOUBLE, hi DOUBLE, tag STRING")
    out = run_op(ctx, "join.range", [points, iv], on="ts", lower="lo",
                 upper="hi", bucket=10.0, how="left").collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r["r_tag"])
    assert by_id[1] == ["w1"]   # matched once, NOT re-emitted as unmatched
    assert by_id[2] == [None]   # genuinely unmatched


def test_stream_funnel_accepts_array_by(ctx, spark, tmp_path):
    """'by' is declared type=array; the registered example form
    (a list, including multi-column) must work."""
    from pyspark.sql import functions as F

    src = spark.createDataFrame(
        [("u1", "app", "view", 1.0), ("u1", "app", "click", 2.0),
         ("u2", "web", "view", 3.0)],
        "user_id STRING, channel STRING, event_type STRING, t DOUBLE",
    ).withColumn("ts", F.timestamp_seconds("t"))
    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .limit(0)  # rate source only bootstraps the stream machinery
    )
    # batch path is enough to exercise the config handling: build the
    # plan on a memory stream instead
    mem = src.write.format("parquet").mode("overwrite")
    path = str(tmp_path / "ev")
    mem.save(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    out = run_op(ctx, "stream.funnel", [stream],
                 steps=["view", "click"], by=["user_id", "channel"],
                 ts_column="ts")
    q = (out.writeStream.format("memory").queryName("funnel_arr")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        rows = {(r["user_id"], r["channel"]): r["steps_completed"]
                for r in spark.sql("SELECT * FROM funnel_arr").collect()}
    finally:
        q.stop()
    assert rows == {("u1", "app"): 2, ("u2", "web"): 1}


def test_window_function_first_last_value(ctx, spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30)], "k STRING, seq INT, v INT"
    )
    out = run_op(ctx, "window.function", [df], function="first_value",
                 column="v", partition_by=["k"], order_by=["seq"],
                 output_column="fv")
    got = {(r["k"], r["seq"]): r["fv"] for r in out.collect()}
    assert got == {("a", 1): 10, ("a", 2): 10, ("b", 1): 30}
    out = run_op(ctx, "window.function", [df], function="last_value",
                 column="v", partition_by=["k"], order_by=["seq"],
                 output_column="lv")
    # default frame = unbounded preceding..current row
    got = {(r["k"], r["seq"]): r["lv"] for r in out.collect()}
    assert got == {("a", 1): 10, ("a", 2): 20, ("b", 1): 30}


def test_groupby_alias_key(ctx, spark):
    """The registered example uses 'alias'; it must name the column."""
    df = spark.createDataFrame([("x", 1), ("x", 2)], "region STRING, amount INT")
    out = run_op(ctx, "groupby.apply", [df], by="region",
                 aggregations=[{"column": "amount", "operation": "sum",
                                "alias": "total"}])
    assert out.columns == ["region", "total"]
    assert out.first()["total"] == 3


def test_sql_query_default_view_names(ctx, spark):
    """Both the documented default (input_0) and the legacy t0 work."""
    df = spark.createDataFrame([(1,)], "x INT")
    assert run_op(ctx, "sql.query", [df],
                  sql="SELECT COUNT(*) AS c FROM input_0").first()["c"] == 1
    assert run_op(ctx, "sql.query", [df],
                  sql="SELECT COUNT(*) AS c FROM t0").first()["c"] == 1


def test_reduce_order_by_array(ctx, spark):
    df = spark.createDataFrame(
        [("a", 1, 2), ("b", 2, 1)], "name STRING, ts INT, tie INT"
    )
    # declared array form, single and multi column
    assert run_op(ctx, "reduce.apply", [df], column="name", operation="last",
                  order_by=["ts"]).first()["name"] == "b"
    assert run_op(ctx, "reduce.apply", [df], column="name", operation="last",
                  order_by=["tie", "ts"]).first()["name"] == "a"


def test_sort_direction_suffix(ctx, spark):
    """The registered example spells direction inline: 'amount desc'."""
    df = spark.createDataFrame([(1,), (3,), (2,)], "amount INT")
    out = run_op(ctx, "sort.apply", [df], columns=["amount desc"], limit=2)
    assert [r["amount"] for r in out.collect()] == [3, 2]


def test_asof_tolerance_duration_string(ctx, spark):
    probe = spark.createDataFrame([(1, 100.0)], "uid INT, ts DOUBLE")
    build = spark.createDataFrame([(1, 40.0, "old")], "uid INT, ts DOUBLE, tag STRING")
    hit = run_op(ctx, "join.asof", [probe, build], on="ts", by="uid",
                 tolerance="1 minute")
    assert hit.first()["r_tag"] == "old"  # 60s gap == tolerance
    miss = run_op(ctx, "join.asof", [probe, build], on="ts", by="uid",
                  tolerance="59s")
    assert miss.first()["r_tag"] is None


def test_stage_pipeline_splice_is_scoped(ctx, spark):
    """__parent__ in a config VALUE must not trigger the splice, and
    the per-call splice op must not linger in the global registry."""
    from conveyor_spark.registry import REGISTRY

    inline = """
[pipeline]
name = "child"

[[stages]]
id = "flt"
function = "filter.apply"
inputs = ["__parent__"]
[stages.config]
column = "x"
operator = ">"
value = 1
"""
    df = spark.createDataFrame([(1,), (2,)], "x INT")
    out = run_op(ctx, "stage.pipeline", [df], inline=inline)
    assert [r["x"] for r in out.collect()] == [2]
    assert not [k for k in REGISTRY if k.startswith("__parent_input")]

    # the literal string in a VALUE (not an inputs list) is inert
    benign = """
[pipeline]
name = "child2"

[[stages]]
id = "m"
function = "map.apply"
inputs = []
"""
    # a child with a source-less transform stage fails spec parsing —
    # all we assert is that no splice registration happened for a spec
    # that never references __parent__ via inputs
    with pytest.raises(Exception):
        run_op(ctx, "stage.pipeline", [df],
               inline=benign.replace('function = "map.apply"',
                                     'function = "map.apply"\n[stages.config]\nexpression = "\'__parent__\'"\noutput_column = "y"'))
    assert not [k for k in REGISTRY if k.startswith("__parent_input")]


# -- sinks / sources / compiler hardening ----------------------------------

def test_single_file_save_modes(ctx, spark, tmp_path):
    df = spark.createDataFrame([(1,)], "x INT")
    dest = str(tmp_path / "out.csv")
    run_op(ctx, "csv.write", [df], path=dest)
    assert open(dest).read().startswith("x")
    # append is refused for an exact single file
    with pytest.raises(ConfigError, match="append"):
        run_op(ctx, "csv.write", [df], path=dest, mode="append")
    # error mode refuses to replace
    with pytest.raises(ConfigError, match="already exists"):
        run_op(ctx, "csv.write", [df], path=dest, mode="error")
    # ignore mode leaves the existing file alone
    before = open(dest).read()
    run_op(ctx, "csv.write", [spark.createDataFrame([(9,)], "x INT")],
           path=dest, mode="ignore")
    assert open(dest).read() == before


def test_single_file_glob_special_path(ctx, spark, tmp_path):
    df = spark.createDataFrame([(1,)], "x INT")
    dest = str(tmp_path / "result[2024].csv")
    run_op(ctx, "csv.write", [df], path=dest)
    assert open(dest).read().splitlines()[1] == "1"


def test_compiler_rejects_consuming_a_sink(spark, tmp_path):
    from conveyor_spark.compiler import run_pipeline
    from conveyor_spark.config.spec import parse_spec

    spec = parse_spec({
        "pipeline": {"name": "p"},
        "stages": [
            {"id": "src", "function": "parquet.read",
             "config": {"path": "/root/testdata/sf0.001/region.parquet"}},
            {"id": "snk", "function": "csv.write", "inputs": ["src"],
             "config": {"path": str(tmp_path / "o.csv")}},
            {"id": "after", "function": "filter.apply", "inputs": ["snk"],
             "config": {"column": "r_regionkey", "operator": ">", "value": 0}},
        ],
    })
    with pytest.raises(ConfigError, match="produced no output"):
        run_pipeline(spark, spec)


def test_compiler_rejects_inputs_into_source(spark, tmp_path):
    from conveyor_spark.compiler import run_pipeline
    from conveyor_spark.config.spec import parse_spec

    spec = parse_spec({
        "pipeline": {"name": "p"},
        "stages": [
            {"id": "a", "function": "parquet.read",
             "config": {"path": "/root/testdata/sf0.001/region.parquet"}},
            {"id": "b", "function": "parquet.read", "inputs": ["a"],
             "config": {"path": "/root/testdata/sf0.001/region.parquet"}},
        ],
    })
    with pytest.raises(ConfigError, match="accepts <= 0 inputs"):
        run_pipeline(spark, spec)


def test_validate_rejects_unknown_function_without_plugins(tmp_path):
    from conveyor_spark.cli import main

    p = tmp_path / "typo.toml"
    p.write_text("""
[pipeline]
name = "typo"

[[stages]]
id = "s"
function = "csv.raed"
[stages.config]
path = "/tmp/x.csv"
""")
    assert main(["validate", str(p)]) == 2


def test_http_get_scalar_json_records(ctx, spark):
    out = run_op(ctx, "http.get", [], url="http://x.test/",
                 _fetcher=lambda *a: b"[1, 2, 3]")
    assert [r["value"] for r in out.collect()] == [1, 2, 3]
    out = run_op(ctx, "http.get", [], url="http://x.test/", format="jsonl",
                 _fetcher=lambda *a: b'"abc"\n{"k": 1}')
    rows = out.collect()
    assert rows[0]["value"] == "abc" and rows[1]["k"] == 1


def test_excel_write_refuses_oversize(ctx, spark, tmp_path):
    pytest.importorskip("openpyxl")
    df = spark.createDataFrame([(i,) for i in range(5)], "x INT")
    with pytest.raises(ConfigError, match="max_rows"):
        run_op(ctx, "excel.write", [df], path=str(tmp_path / "o.xlsx"), max_rows=3)


# -- datapipe declared-interface fixes -------------------------------------

def test_simhash_bits_64_not_null(ctx, spark):
    """bits=64 used to compute h % (2<<63) == h % 0 -> NULL for every
    document (int64 overflow in the old modulo bit test)."""
    df = spark.createDataFrame([(1, "alpha beta gamma")], "id INT, text STRING")
    out = run_op(ctx, "dedup.simhash", [df], column="text", bits=64)
    val = out.first()["simhash"]
    assert val is not None and val != 0


def test_event_funnel_array_by(ctx, spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("u1", "a", "view", 1.0), ("u1", "a", "click", 2.0),
         ("u1", "b", "view", 3.0)],
        "user_id STRING, site STRING, event_type STRING, t DOUBLE",
    ).withColumn("ts", F.timestamp_seconds("t"))
    out = run_op(ctx, "event.funnel", [df], steps=["view", "click"],
                 by=["user_id", "site"])
    got = {(r["user_id"], r["site"]): r["steps_completed"] for r in out.collect()}
    assert got == {("u1", "a"): 2, ("u1", "b"): 1}


def test_retention_and_sessionize_array_by(ctx, spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("u1", 10.0), ("u1", 90000.0), ("u2", 10.0)], "user_id STRING, t DOUBLE"
    ).withColumn("ts", F.timestamp_seconds("t"))
    out = run_op(ctx, "retention.cohort", [df], by=["user_id"],
                 interval_seconds=86400)
    periods = {r["period"]: r["active_users"] for r in out.collect()}
    assert periods == {0: 2, 1: 1}
    sess = run_op(ctx, "sessionize.assign", [df], by=["user_id"],
                  gap_seconds=60, global_id=True)
    ids = {r["session_id"] for r in sess.collect()}
    assert ids == {"u1#0", "u1#1", "u2#0"}


def test_text_extract_array_fields(ctx, spark):
    df = spark.createDataFrame([("status=404 path=/x",)], "log STRING")
    out = run_op(ctx, "text.extract", [df], column="log",
                 fields=[{"name": "code", "pattern": r"status=(\d+)", "type": "int"},
                         {"name": "path", "pattern": r"path=(\S+)"}])
    r = out.first()
    assert r["code"] == 404 and r["path"] == "/x"


def test_time_resample_array_aggs_and_ffill(ctx, spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("k", 0.0, 10.0), ("k", 7200.0, 30.0)], "k STRING, t DOUBLE, value DOUBLE"
    ).withColumn("ts", F.timestamp_seconds("t"))
    out = run_op(ctx, "time.resample", [df], interval_seconds=3600, by=["k"],
                 aggs=[{"column": "value", "operation": "sum", "alias": "total"}],
                 fill="ffill")
    rows = sorted((r["total"]) for r in out.collect())
    # gap hour carried the previous value forward
    assert rows == [10.0, 10.0, 30.0]
    assert "total" in out.columns


def test_topk_order_by_desc_suffix(ctx, spark):
    df = spark.createDataFrame(
        [("g", 1, 5), ("g", 2, 9), ("g", 3, 7)], "grp STRING, id INT, score INT"
    )
    out = run_op(ctx, "topk.apply", [df], by=["grp"],
                 order_by=["score desc", "id"], k=2)
    assert sorted(r["id"] for r in out.collect()) == [2, 3]
    # salted path extracts the tie column from the suffixed form too
    out = run_op(ctx, "topk.apply", [df], by=["grp"],
                 order_by=["score desc", "id asc"], k=2, salt=3)
    assert sorted(r["id"] for r in out.collect()) == [2, 3]


def test_drift_psi_default_range_from_reference(ctx, spark):
    ref = spark.createDataFrame([(float(i),) for i in range(10)], "score DOUBLE")
    cur = spark.createDataFrame([(float(i),) for i in range(5, 15)], "score DOUBLE")
    out = run_op(ctx, "drift.psi", [ref, cur], column="score", bins=5)
    rows = out.collect()
    assert len(rows) == 5 and rows[0]["psi_total"] > 0
    # explicit range still works and must agree with itself
    out2 = run_op(ctx, "drift.psi", [ref, cur], column="score", bins=5,
                  min=0.0, max=9.0)
    assert abs(rows[0]["psi_total"] - out2.collect()[0]["psi_total"]) < 1e-12


def test_expectations_report_mode_and_between(ctx, spark):
    df = spark.createDataFrame([(1, 0.5), (2, 0.7)], "id INT, score DOUBLE")
    out = run_op(ctx, "validate.expectations", [df], mode="report",
                 expectations=[{"kind": "between", "column": "score",
                                "min": 0.0, "max": 1.0},
                               {"kind": "not_null", "column": "id"}])
    rows = out.collect()
    assert all(r["passed"] for r in rows)


def test_text_normalize_nfd(ctx, spark):
    df = spark.createDataFrame([("café",)], "text STRING")
    out = run_op(ctx, "text.normalize", [df], column="text", form="nfd",
                 lowercase=False, collapse_whitespace=False, trim=False)
    # NFD decomposes the accent into a combining mark (len 4 -> 5)
    assert len(out.first()["text"]) == 5


def test_last_value_whole_partition_via_frame(ctx, spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20)], "k STRING, seq INT, v INT"
    )
    out = run_op(ctx, "window.function", [df], function="last_value",
                 column="v", partition_by=["k"], order_by=["seq"],
                 rows_between=["unbounded", "unbounded"],
                 output_column="lv")
    assert {r["lv"] for r in out.collect()} == {20}


def test_validate_warns_on_unresolved_template(tmp_path, capsys):
    from conveyor_spark.cli import main

    p = tmp_path / "p.toml"
    p.write_text("""
[pipeline]
name = "t"

[[stages]]
id = "s"
function = "csv.read"
[stages.config]
path = "{{ outpt_dir }}/f.csv"
""")
    assert main(["validate", str(p)]) == 0
    err = capsys.readouterr().err
    assert "outpt_dir" in err and "typo" in err


def test_zero_norm_vectors_excluded_both_paths(ctx, spark):
    """A zero/NaN-norm vector has no direction; Spark compares NaN as
    LARGEST, so an unfiltered NaN cosine would pass any threshold /
    outrank every neighbor. Both vector ops exclude them."""
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 0.0], 0)],
        "vec_id INT, embedding ARRAY<FLOAT>, label INT",
    )
    kw = dict(id_column="vec_id", bucket_column="label", threshold=0.5)
    got = [tuple(r) for r in run_op(
        ctx, "dedup.embedding", [vecs], **kw).collect()]
    assert got == [(1, 2, 0.993884)]  # the zero vector never pairs
    kw2 = dict(id_column="vec_id", bucket_column="label", k=3, query_ids=[1])
    got = [tuple(r) for r in run_op(ctx, "knn.ivf", [vecs], **kw2).collect()]
    assert got == [(1, 2, 0.993884, 1)]  # NaN-cosine neighbor 3 excluded


def test_frame_bound_direction_mismatch_rejected(ctx, spark):
    df = spark.createDataFrame([("a", 1, 1)], "k STRING, seq INT, v INT")
    with pytest.raises(ConfigError, match="frame start bound"):
        run_op(ctx, "window.function", [df], function="sum", column="v",
               partition_by=["k"], order_by=["seq"],
               rows_between=["unbounded_following", "current"],
               output_column="s")
    with pytest.raises(ConfigError, match="frame end bound"):
        run_op(ctx, "window.function", [df], function="sum", column="v",
               partition_by=["k"], order_by=["seq"],
               rows_between=["current", "--3"],
               output_column="s")


def test_jaccard_candidate_verify_empty_sets_no_crash(ctx, spark):
    """Two empty-token docs in a candidate pair: jaccard undefined —
    the pair drops instead of an ANSI DIVIDE_BY_ZERO crash."""
    docs = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "a b c"), (4, "a b c")], "doc_id INT, text STRING"
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a INT, id_b INT")
    out = run_op(ctx, "dedup.ngram_jaccard", [docs, pairs], column="text",
                 id_column="doc_id", shingle="token", threshold=0.5)
    assert [(r["id_a"], r["id_b"]) for r in out.collect()] == [(3, 4)]


def test_range_bucket_must_be_positive(ctx, spark):
    pts = spark.createDataFrame([(1, 5.0)], "id INT, ts DOUBLE")
    iv = spark.createDataFrame([(0.0, 10.0)], "lo DOUBLE, hi DOUBLE")
    with pytest.raises(ConfigError, match="bucket must be > 0"):
        run_op(ctx, "join.range", [pts, iv], on="ts", lower="lo", upper="hi",
               bucket=0)


def test_jaccard_candidate_verify_wired_in_pipeline(spark, tmp_path):
    """The documented minhash -> candidate-verify composition must
    compile as a pipeline: run_op bypasses the compiler's arity
    check, which used to reject the second input (max_inputs=1)."""
    import json as _j

    from conveyor_spark.compiler import run_pipeline
    from conveyor_spark.config.spec import parse_spec

    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(_j.dumps({"doc_id": i, "text": "a b c"})
                             for i in (1, 2)))
    spec = parse_spec({
        "pipeline": {"name": "p"},
        "stages": [
            {"id": "docs", "function": "json.read",
             "config": {"path": str(src), "format": "jsonl"}},
            {"id": "cand", "function": "dedup.minhash", "inputs": ["docs"],
             "config": {"column": "text", "id_column": "doc_id",
                        "num_hashes": 8, "bands": 2, "shingle": "token"}},
            {"id": "ver", "function": "dedup.ngram_jaccard",
             "inputs": ["docs", "cand"],
             "config": {"column": "text", "id_column": "doc_id",
                        "shingle": "token", "threshold": 0.5}},
        ],
    })
    result = run_pipeline(spark, spec)
    rows = result.outputs["ver"].collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]


def test_run_warns_on_unresolved_template(tmp_path, capsys, spark):
    """`validate` users were warned about typo'd {{var}}s; `run`
    users must be too — compile_pipeline emits the same warning."""
    from conveyor_spark.compiler import compile_pipeline
    from conveyor_spark.config.spec import parse_spec

    src = tmp_path / "in.csv"
    src.write_text("a\n1\n")
    spec = parse_spec({
        "pipeline": {"name": "t"},
        "stages": [
            {"id": "s", "function": "csv.read",
             "config": {"path": str(src)}},
            {"id": "f", "function": "filter.apply", "inputs": ["s"],
             "config": {"expr": "a IS NOT NULL",
                        "_note": "{{ outpt_dir }}"}},
        ],
    })
    compile_pipeline(spark, spec, run_sinks=False)
    err = capsys.readouterr().err
    assert "outpt_dir" in err and "typo" in err


def test_templated_params_stay_silent(tmp_path, capsys):
    """{{row_field}} inside a param the op declares templated=True
    (http.fetch url, ai.generate prompt) is the documented per-row
    form — neither validate nor compile may flag it."""
    from conveyor_spark.config.spec import (
        parse_spec, unresolved_template_refs,
    )

    spec = parse_spec({
        "pipeline": {"name": "t"},
        "stages": [
            {"id": "src", "function": "stdin.read", "config": {}},
            {"id": "fetch", "function": "http.fetch", "inputs": ["src"],
             "config": {"url": "https://x/{{ user_id }}",
                        "output_column": "resp"}},
            {"id": "gen", "function": "ai.generate", "inputs": ["fetch"],
             "config": {"provider": "mock",
                        "prompt": "Summarize: {{ text }}",
                        "output_column": "out"}},
        ],
    })
    assert unresolved_template_refs(spec) == []
    # a non-templated param on the same stage still warns
    spec2 = parse_spec({
        "pipeline": {"name": "t"},
        "stages": [
            {"id": "src", "function": "stdin.read", "config": {}},
            {"id": "gen", "function": "ai.generate", "inputs": ["src"],
             "config": {"provider": "mock", "prompt": "hi",
                        "output_column": "{{ out_col }}"}},
        ],
    })
    assert unresolved_template_refs(spec2) == [
        ("gen", "ai.generate", "out_col")
    ]


def test_bench_rejects_non_numeric_repeat():
    """A typo'd SPARK_GRAFT_BENCH_REPEAT must fail loudly (exit 2),
    not silently fall back to noisier single-run timings — mirrors
    the unknown-query guard. The check fires before Spark starts, so
    this subprocess returns immediately."""
    import os
    import subprocess
    import sys

    env = dict(os.environ, SPARK_GRAFT_BENCH_REPEAT="twice")
    proc = subprocess.run(
        [sys.executable, "bench.py", "q01_pricing_summary"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 2
    assert "SPARK_GRAFT_BENCH_REPEAT" in proc.stderr
