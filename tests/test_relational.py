"""Join / set ops / pivot / window-function extensions."""

from __future__ import annotations

import pytest

from conveyor_spark.errors import ConfigError
from tests.conftest import run_op


@pytest.fixture(scope="module")
def left(spark):
    return spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k INT, l STRING")


@pytest.fixture(scope="module")
def right(spark):
    return spark.createDataFrame([(1, "x"), (2, "y"), (4, "z")], "k INT, r STRING")


def test_join_types(ctx, left, right):
    assert run_op(ctx, "join.apply", [left, right], on="k").count() == 2
    assert run_op(ctx, "join.apply", [left, right], on="k", how="left").count() == 3
    assert run_op(ctx, "join.apply", [left, right], on="k", how="outer").count() == 4
    assert run_op(ctx, "join.apply", [left, right], on="k", how="anti").count() == 1
    assert run_op(ctx, "join.apply", [left, right], on="k", how="semi").count() == 2
    assert run_op(ctx, "join.apply", [left, right], how="cross").count() == 9
    cond = run_op(ctx, "join.apply", [left, right], condition="l = 'a' AND r = 'x'", how="inner")
    assert cond.count() == 1
    with pytest.raises(ConfigError, match="join.apply: parameter 'how': 'sideways' not in allowed values"):
        run_op(ctx, "join.apply", [left, right], on="k", how="sideways")


def test_join_broadcast_plan(ctx, left, right):
    out = run_op(ctx, "join.apply", [left, right], on="k", broadcast=True)
    assert "Broadcast" in out._jdf.queryExecution().executedPlan().toString()


def test_union(ctx, spark, left):
    other = spark.createDataFrame([(9, "q")], "k INT, l STRING")
    assert run_op(ctx, "union.apply", [left, other]).count() == 4
    # by-name semantics with reordered columns
    swapped = other.select("l", "k")
    assert run_op(ctx, "union.apply", [left, swapped]).count() == 4
    missing = spark.createDataFrame([(7,)], "k INT")
    out = run_op(ctx, "union.apply", [left, missing], allow_missing_columns=True)
    assert out.filter("l IS NULL").count() == 1
    assert run_op(ctx, "union.apply", [left, left], distinct=True).count() == 3


def test_intersect_except(ctx, left, right):
    lk, rk = left.select("k"), right.select("k")
    assert {r["k"] for r in run_op(ctx, "intersect.apply", [lk, rk]).collect()} == {1, 2}
    assert {r["k"] for r in run_op(ctx, "except.apply", [lk, rk], all=False).collect()} == {3}


def test_pivot(ctx, spark):
    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)],
        "g STRING, p STRING, v DOUBLE",
    )
    out = run_op(ctx, "pivot.apply", [df], by="g", pivot="p", values=["x", "y"],
                 agg={"column": "v", "operation": "sum"})
    rows = {r["g"]: (r["x"], r["y"]) for r in out.collect()}
    assert rows == {"a": (1.0, 2.0), "b": (3.0, None)}


def test_unpivot(ctx, spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], "id INT, a DOUBLE, b DOUBLE")
    out = run_op(ctx, "unpivot.apply", [df], ids="id", values=["a", "b"])
    assert out.count() == 2
    assert set(out.columns) == {"id", "variable", "value"}


def test_window_functions(ctx, spark):
    df = spark.createDataFrame(
        [("u1", 1, 10.0), ("u1", 2, 30.0), ("u1", 3, 20.0), ("u2", 4, 5.0)],
        "u STRING, seq INT, v DOUBLE",
    )
    rn = run_op(ctx, "window.function", [df], function="row_number", output_column="rn",
                partition_by="u", order_by="v", descending=True)
    assert rn.filter("rn = 1 AND u = 'u1'").first()["v"] == 30.0
    lag = run_op(ctx, "window.function", [df], function="lag", column="v",
                 output_column="prev", partition_by="u", order_by="seq")
    assert [r["prev"] for r in lag.filter("u = 'u1'").orderBy("seq").collect()] == [None, 10.0, 30.0]
    cum = run_op(ctx, "window.function", [df], function="sum", column="v",
                 output_column="cum", partition_by="u", order_by="seq",
                 rows_between=[None, 0])
    assert [r["cum"] for r in cum.filter("u = 'u1'").orderBy("seq").collect()] == [10.0, 40.0, 60.0]
    with pytest.raises(ConfigError, match="allow_unpartitioned"):
        run_op(ctx, "window.function", [df], function="row_number", output_column="rn", order_by="v")


def test_count_window_batch(ctx, spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "seq INT, v DOUBLE")
    out = run_op(ctx, "window.apply", [df], type="tumbling", size=3, order_by="seq")
    sizes = {r["window_id"]: r["n"] for r in
             run_op(ctx, "groupby.apply", [out], by="window_id",
                    aggregations=[{"column": "seq", "operation": "count", "output_column": "n"}]).collect()}
    assert sizes == {0: 3, 1: 3, 2: 3, 3: 1}


def test_sliding_count_window_batch(ctx, spark):
    """REAL sliding membership (the reference TODO's this into
    tumbling-of-slide): window w covers rows [w*slide, w*slide+size),
    so consecutive windows overlap and rows duplicate per window."""
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "seq INT, v DOUBLE")
    out = run_op(ctx, "window.apply", [df], type="sliding", size=4, slide=2,
                 order_by="seq")
    members: dict[int, list[int]] = {}
    for r in out.collect():
        members.setdefault(r["window_id"], []).append(r["seq"])
    assert {w: sorted(v) for w, v in members.items()} == {
        0: [0, 1, 2, 3], 1: [2, 3, 4, 5], 2: [4, 5, 6, 7],
        3: [6, 7, 8, 9], 4: [8, 9],
    }
    # slide == size degenerates to tumbling (no duplication)
    out = run_op(ctx, "window.apply", [df], type="sliding", size=2, slide=2,
                 order_by="seq")
    assert out.count() == 10
    # slide > size: sampling windows with gaps; skipped rows drop
    out = run_op(ctx, "window.apply", [df], type="sliding", size=2, slide=3,
                 order_by="seq")
    got = {}
    for r in out.collect():
        got.setdefault(r["window_id"], []).append(r["seq"])
    # rows 2, 5, 8 fall in the gaps; row 9 opens the partial window 3
    assert {w: sorted(v) for w, v in got.items()} == {
        0: [0, 1], 1: [3, 4], 2: [6, 7], 3: [9],
    }


def test_sql_query_over_inputs(ctx, spark):
    from conveyor_spark.errors import ConfigError
    from tests.conftest import run_op

    a = spark.createDataFrame([(1, "x"), (2, "y")], "id INT, v STRING")
    b = spark.createDataFrame([(1, 10), (2, 20)], "id INT, n INT")
    out = run_op(ctx, "sql.query", [a, b], views=["ta", "tb"],
                 sql="SELECT ta.v, tb.n FROM ta JOIN tb ON ta.id = tb.id")
    assert {(r["v"], r["n"]) for r in out.collect()} == {("x", 10), ("y", 20)}
    # default view names t0/t1
    out2 = run_op(ctx, "sql.query", [a], sql="SELECT COUNT(*) AS c FROM t0")
    assert out2.first()["c"] == 2
    import pytest as _p

    with _p.raises(ConfigError, match="view names"):
        run_op(ctx, "sql.query", [a, b], views=["only_one"], sql="SELECT 1")
    with _p.raises(ConfigError, match="sql.query: missing required parameter 'sql'"):
        run_op(ctx, "sql.query", [a])


def test_sql_query_drops_views_after_resolve(ctx, spark):
    """The temp views are implementation detail of one stage — they
    must not persist (or keep clobbering a same-named session view)
    after sql.query returns; the returned plan stays usable."""
    from tests.conftest import run_op

    a = spark.createDataFrame([(1, "x")], "id INT, v STRING")
    out = run_op(ctx, "sql.query", [a], sql="SELECT v FROM input_0")
    for name in ("t0", "input_0"):
        assert not spark.catalog.tableExists(name), f"{name} leaked"
    # plan resolved eagerly — still executable after the drop
    assert out.first()["v"] == "x"
    out2 = run_op(ctx, "sql.query", [a], views=["named_v"],
                  sql="SELECT COUNT(*) AS c FROM named_v")
    assert not spark.catalog.tableExists("named_v")
    assert out2.first()["c"] == 1


def test_sql_query_view_cleanup_keeps_input_caches(ctx, spark):
    """Catalog.dropTempView cascade-uncaches any cache whose plan
    matches the dropped view — which is exactly the INPUT DataFrame's
    plan, so the old cleanup silently evicted caches a caller had
    built for reuse across several consumers (q160's collapsed-names
    shape). The SessionCatalog drop removes only the name binding."""
    from tests.conftest import run_op

    df = (spark.createDataFrame([(i, i % 3) for i in range(30)], "id INT, k INT")
          .groupBy("k").count().cache())
    df.count()  # materialize
    assert df.storageLevel.useMemory
    out = run_op(ctx, "sql.query", [df], views=["cached_in"],
                 sql="SELECT SUM(count) AS s FROM cached_in")
    assert out.first()["s"] == 30
    assert not spark.catalog.tableExists("cached_in")
    # the cache must have survived the view cleanup
    assert df.storageLevel.useMemory, "sql.query evicted its input's cache"
    df.unpersist()


def test_sql_query_cache_statement_still_released_on_cleanup(ctx, spark):
    """The one statement class where the cascade drop is REQUIRED: a
    CACHE TABLE over the registered view creates a view-bound cache
    entry that only the cascade can ever release once the name is
    gone — a name-only drop would orphan it for the session."""
    from tests.conftest import run_op

    df = spark.createDataFrame([(1,)], "x INT")
    jcm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # isolate from other tests' caches
    run_op(ctx, "sql.query", [df], views=["cv"], sql="CACHE TABLE cv")
    assert not spark.catalog.tableExists("cv")
    assert jcm.isEmpty(), "CACHE TABLE view cache orphaned after cleanup"
