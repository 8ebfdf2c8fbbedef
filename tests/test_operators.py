"""Per-operator unit tests on literal DataFrames — mirrors the
reference's inline #[cfg(test)] style (SURVEY §5)."""

from __future__ import annotations

import pytest

from conveyor_spark.errors import ConfigError, ValidationError
from tests.conftest import run_op


@pytest.fixture(scope="module")
def users(spark):
    # reference canonical fixture (tests/dag_pipeline_test.rs:14-18)
    return spark.createDataFrame(
        [(1, "Alice", "active"), (2, "Bob", "inactive"), (3, "Charlie", "active")],
        "id BIGINT, name STRING, status STRING",
    )


def test_filter_eq(ctx, users):
    out = run_op(ctx, "filter.apply", [users], column="status", value="active")
    names = {r["name"] for r in out.collect()}
    assert names == {"Alice", "Charlie"}  # Bob absent


def test_filter_operators(ctx, users):
    assert run_op(ctx, "filter.apply", [users], column="id", operator=">", value=1).count() == 2
    assert run_op(ctx, "filter.apply", [users], column="id", operator="<=", value=2).count() == 2
    assert run_op(ctx, "filter.apply", [users], column="status", operator="!=", value="active").count() == 1
    assert run_op(ctx, "filter.apply", [users], column="name", operator="contains", value="li").count() == 2
    assert run_op(ctx, "filter.apply", [users], column="name", operator="in", value=["Bob", "Alice"]).count() == 2
    assert run_op(ctx, "filter.apply", [users], expr="id > 1 AND status = 'active'").count() == 1


def test_filter_unknown_operator(ctx, users):
    with pytest.raises(ConfigError, match="filter.apply: parameter 'operator': '~' not in allowed values"):
        run_op(ctx, "filter.apply", [users], column="id", operator="~", value=1)


def test_select(ctx, users):
    out = run_op(ctx, "select.apply", [users], columns=["name"])
    assert out.columns == ["name"]
    out = run_op(ctx, "select.apply", [users], columns="id")
    assert out.columns == ["id"]


def test_map_reference_grammar(ctx, users):
    # `col OP const` coerces to double (reference map.rs:129-227)
    out = run_op(ctx, "map.apply", [users], expression="id * 2", output_column="x")
    assert dict(out.dtypes)["x"] == "double"
    assert [r["x"] for r in out.orderBy("id").collect()] == [2.0, 4.0, 6.0]
    # col OP col
    out = run_op(ctx, "map.apply", [users], expression="id + id", output_column="x")
    assert [r["x"] for r in out.orderBy("id").collect()] == [2.0, 4.0, 6.0]
    # full Spark SQL superset
    out = run_op(ctx, "map.apply", [users], expression="upper(name)", output_column="u")
    assert out.filter("u = 'ALICE'").count() == 1


def test_distinct_keeps(ctx, spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 30), (2, "d", 5), (3, "e", 1)],
        "k INT, v STRING, o INT",
    )
    assert run_op(ctx, "distinct.apply", [df], columns=["k"]).count() == 3
    first = run_op(ctx, "distinct.apply", [df], columns=["k"], keep="first", order_by="o")
    assert {r["v"] for r in first.collect()} == {"a", "d", "e"}
    last = run_op(ctx, "distinct.apply", [df], columns=["k"], keep="last", order_by="o")
    assert {r["v"] for r in last.collect()} == {"b", "c", "e"}
    none = run_op(ctx, "distinct.apply", [df], columns=["k"], keep="none")
    assert {r["v"] for r in none.collect()} == {"e"}
    with pytest.raises(ConfigError, match="order_by"):
        run_op(ctx, "distinct.apply", [df], columns=["k"], keep="first")


def test_groupby_all_ops(ctx, spark):
    # reference op vocabulary (group_by.rs:142-157), F4 fixture shape
    df = spark.createDataFrame(
        [("eng", 100.0, 1), ("eng", 200.0, 2), ("ops", 50.0, 3)],
        "department STRING, salary DOUBLE, employee_id INT",
    )
    out = run_op(
        ctx, "groupby.apply", [df], by="department",
        aggregations=[
            {"column": "salary", "operation": op, "output_column": op}
            for op in ["sum", "avg", "count", "min", "max", "median", "std", "var"]
        ] + [
            {"column": "salary", "operation": "first", "order_by": "employee_id", "output_column": "first"},
            {"column": "salary", "operation": "last", "order_by": "employee_id", "output_column": "last"},
        ],
    )
    eng = out.filter("department = 'eng'").first()
    assert eng["sum"] == 300.0 and eng["avg"] == 150.0 and eng["count"] == 2
    assert eng["min"] == 100.0 and eng["max"] == 200.0 and eng["median"] == 150.0
    assert abs(eng["std"] - 70.71067811865476) < 1e-9  # ddof=1
    assert abs(eng["var"] - 5000.0) < 1e-9
    assert eng["first"] == 100.0 and eng["last"] == 200.0


def test_reduce(ctx, users):
    out = run_op(ctx, "reduce.apply", [users], column="id", operation="sum")
    assert out.columns == ["id"]  # reference default: same name
    assert out.first()["id"] == 6


def test_json_extract_missing_path_null(ctx, spark):
    # reference: json_extract.rs:195-229 (missing -> null)
    df = spark.createDataFrame(
        [('{"meta":{"req":{"headers":{"x-trace-id":"trace-123"}}}}',), ('{"meta":{}}',), ("not json",)],
        "Line STRING",
    )
    out = run_op(ctx, "json.extract", [df], column="Line",
                 path="meta.req.headers.x-trace-id", output_column="trace")
    vals = [r["trace"] for r in out.collect()]
    assert vals == ["trace-123", None, None]


def test_validate_schema(ctx, users):
    out = run_op(ctx, "validate.schema", [users], required_fields=["id", "name"],
                 field_types={"id": "int64", "name": "string"},
                 non_nullable=["id"], unique_fields=["id"])
    assert out.count() == 3
    with pytest.raises(ValidationError, match="missing"):
        run_op(ctx, "validate.schema", [users], required_fields=["nope"])
    with pytest.raises(ValidationError, match="expected"):
        run_op(ctx, "validate.schema", [users], field_types={"id": "string"})
    dup = users.union(users)
    with pytest.raises(ValidationError, match="duplicate"):
        run_op(ctx, "validate.schema", [dup], unique_fields=["id"])


def test_validate_nulls_and_dates(ctx, spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, None), (3, "not-a-date")],
        "id INT, d STRING",
    )
    with pytest.raises(ValidationError, match="unparseable dates"):
        run_op(ctx, "validate.schema", [df], date_fields=["d"])
    with pytest.raises(ValidationError, match="null values"):
        run_op(ctx, "validate.schema", [df], non_nullable=["d"])


def test_chunk_sizes(ctx, spark):
    # reference: chunk.rs tests — 5 rows, batch 2 -> 3 chunks (2,2,1)
    df = spark.createDataFrame([(i,) for i in range(5)], "id INT")
    out = run_op(ctx, "chunk.apply", [df], batch_size=2, order_by="id")
    rows = {r["chunk_id"]: len(r["records"]) for r in out.collect()}
    assert rows == {0: 2, 1: 2, 2: 1}
    # records hold full structs
    first = out.filter("chunk_id = 0").first()["records"]
    assert [r["id"] for r in first] == [0, 1]
    with pytest.raises(ConfigError, match="batch_size"):
        run_op(ctx, "chunk.apply", [df], batch_size=0)


def test_sort_and_limit(ctx, spark):
    df = spark.createDataFrame([(3,), (1,), (None,), (2,)], "x INT")
    out = run_op(ctx, "sort.apply", [df], columns="x", descending=True, nulls_last=True)
    assert [r["x"] for r in out.collect()] == [3, 2, 1, None]
    out = run_op(ctx, "sort.apply", [df], columns=["x"], limit=2, nulls_last=True)
    assert [r["x"] for r in out.collect()] == [1, 2]
    assert run_op(ctx, "limit.apply", [df], n=3).count() == 3


def test_aggregate_stream(ctx, spark):
    # reference F5 fixture (aggregate_stream.rs:381-399)
    df = spark.createDataFrame(
        [("error", 1.0), ("error", 3.0), ("info", 2.0)],
        "level STRING, response_time DOUBLE",
    )
    out = run_op(ctx, "aggregate.stream", [df], operation="avg",
                 group_by="level", value_column="response_time")
    vals = {r["level"]: r["avg_response_time"] for r in out.collect()}
    assert vals == {"error": 2.0, "info": 2.0}
    glob = run_op(ctx, "aggregate.stream", [df], operation="count")
    assert glob.first()["count"] == 3
    with pytest.raises(ConfigError, match="value_column"):
        run_op(ctx, "aggregate.stream", [df], operation="sum")


def test_approx_aggregates(ctx, spark):
    df = spark.createDataFrame(
        [("a", float(i % 100)) for i in range(1000)] + [("b", 5.0)] * 50,
        "k STRING, v DOUBLE",
    )
    acd = run_op(ctx, "approx.count_distinct", [df], column="v", by="k")
    got = {r["k"]: r["v_approx_distinct"] for r in acd.collect()}
    assert abs(got["a"] - 100) <= 10 and got["b"] == 1
    q = run_op(ctx, "approx.quantiles", [df], column="v",
               probabilities=[0.5], by="k").collect()
    med = {r["k"]: r["v_quantiles"][0] for r in q}
    assert 45 <= med["a"] <= 55 and med["b"] == 5.0
    fi = run_op(ctx, "approx.frequent_items", [df], columns="v", support=0.04)
    assert 5.0 in fi.first()["v_freqItems"]


def test_validate_quarantine_modes(ctx, spark):
    import pytest as _pytest

    from conveyor_spark.errors import ConfigError
    from tests.conftest import run_op

    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, None, "2024-01-01"), (3, "c", "junk")],
        ["id", "name", "seen"],
    )
    kept = run_op(ctx, "validate.schema", [df], mode="filter",
                  non_nullable=["name"], date_fields=["seen"])
    assert {r["id"] for r in kept.collect()} == {1}

    tagged = {r["id"]: r for r in run_op(
        ctx, "validate.schema", [df], mode="tag",
        non_nullable=["name"], date_fields=["seen"]).collect()}
    assert tagged[1]["_valid"] is True and tagged[1]["_violations"] == []
    assert tagged[2]["_violations"] == ["null:name"]
    assert tagged[3]["_violations"] == ["date:seen"]

    with _pytest.raises(ConfigError):
        run_op(ctx, "validate.schema", [df], mode="filter", unique_fields=["id"])
    with _pytest.raises(ConfigError):
        run_op(ctx, "validate.schema", [df], mode="zap")


def test_groupby_percentile(ctx, spark):
    df = spark.createDataFrame([("a", v) for v in range(1, 101)], ["k", "v"])
    from tests.conftest import run_op
    out = run_op(ctx, "groupby.apply", [df], by="k", aggregations=[
        {"column": "v", "operation": "percentile", "p": 0.5, "output_column": "p50"},
        {"column": "v", "operation": "percentile", "p": 0.9, "output_column": "p90"},
    ]).collect()[0]
    assert out["p50"] == 50.5 and out["p90"] == pytest.approx(90.1)
    from conveyor_spark.errors import ConfigError
    with pytest.raises(ConfigError):
        run_op(ctx, "groupby.apply", [df], by="k", aggregations=[
            {"column": "v", "operation": "percentile", "p": 1.5}])
    with pytest.raises(ConfigError):
        run_op(ctx, "groupby.apply", [df], by="k", aggregations=[
            {"column": "v", "operation": "percentile"}])


def test_groupby_approx_percentile(ctx, spark):
    from tests.conftest import run_op
    df = spark.createDataFrame([("a", v) for v in range(1, 1001)], ["k", "v"])
    out = run_op(ctx, "groupby.apply", [df], by="k", aggregations=[
        {"column": "v", "operation": "approx_percentile", "p": 0.5,
         "output_column": "p50"},
    ]).collect()[0]
    assert abs(out["p50"] - 500) <= 2  # sketch, tight at this accuracy
