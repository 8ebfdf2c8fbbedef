"""Tests for time.resample (datapipe/resample.py)."""

from __future__ import annotations

from datetime import datetime

import pytest

from conveyor_spark.errors import ConfigError
from tests.conftest import run_op


def _ts(h, m=0):
    return datetime(2024, 1, 1, h, m)


@pytest.fixture(scope="module")
def series(spark):
    rows = [
        ("a", _ts(0, 10), 1.0), ("a", _ts(0, 40), 3.0),   # bucket 0: n=2 min=1
        ("a", _ts(2, 5), 7.0),                            # bucket 2 (gap at 1)
        ("b", _ts(1, 0), 5.0),                            # single bucket
    ]
    return spark.createDataFrame(rows, ["k", "ts", "v"])


AGGS = {"n": {"column": "ts", "fn": "count"}, "lo": {"column": "v", "fn": "min"}}


def test_resample_observed_only(ctx, series):
    out = run_op(ctx, "time.resample", [series], ts_column="ts",
                 interval_seconds=3600, by="k", aggs=AGGS)
    rows = {(r["k"], r["bucket_ts"].hour): (r["n"], r["lo"]) for r in out.collect()}
    assert rows == {("a", 0): (2, 1.0), ("a", 2): (1, 7.0), ("b", 1): (1, 5.0)}


def test_resample_fill_zero_materializes_gaps(ctx, series):
    out = run_op(ctx, "time.resample", [series], ts_column="ts",
                 interval_seconds=3600, by="k", aggs=AGGS, fill="zero")
    rows = {(r["k"], r["bucket_ts"].hour): (r["n"], r["lo"]) for r in out.collect()}
    assert rows[("a", 1)] == (0, 0)  # the gap bucket exists now
    assert len(rows) == 4


def test_resample_fill_prev_carries_forward(ctx, series):
    out = run_op(ctx, "time.resample", [series], ts_column="ts",
                 interval_seconds=3600, by="k", aggs=AGGS, fill="prev")
    rows = {(r["k"], r["bucket_ts"].hour): (r["n"], r["lo"]) for r in out.collect()}
    assert rows[("a", 1)] == (2, 1.0)  # carried from bucket 0


def test_resample_per_agg_fill(ctx, series):
    aggs = {"n": {"column": "ts", "fn": "count", "fill": "zero"},
            "lo": {"column": "v", "fn": "min", "fill": "prev"}}
    out = run_op(ctx, "time.resample", [series], ts_column="ts",
                 interval_seconds=3600, by="k", aggs=aggs)
    rows = {(r["k"], r["bucket_ts"].hour): (r["n"], r["lo"]) for r in out.collect()}
    assert rows[("a", 1)] == (0, 1.0)  # count zeroed, gauge carried


def test_resample_errors(ctx, series):
    with pytest.raises(ConfigError):
        run_op(ctx, "time.resample", [series], ts_column="ts", by="k")
    with pytest.raises(ConfigError):
        run_op(ctx, "time.resample", [series], ts_column="ts",
               interval_seconds=3600, aggs=AGGS, fill="prev")  # prev without keys
    with pytest.raises(ConfigError):
        run_op(ctx, "time.resample", [series], ts_column="ts",
               interval_seconds=3600, by="k", aggs=AGGS, fill="bogus")
    with pytest.raises(ConfigError):
        run_op(ctx, "time.resample", [series], ts_column="ts",
               interval_seconds=3600, by="k",
               aggs={"x": {"column": "v", "fn": "median"}})
