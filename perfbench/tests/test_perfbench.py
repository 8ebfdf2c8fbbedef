"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q

The plan check and the smoke runs start Spark (a few minutes in all);
the rest is pure Python.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
for p in (BENCH, os.path.join(REPO, "tools"), REPO):
    if p not in sys.path:
        sys.path.insert(0, p)

import chunking  # noqa: E402
from ledger import PER_LAYER, member_ledger, parse_metric, per_layer, rest_time  # noqa: E402
from stats import percentile, quartile_spread, vmhwm_mb  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DATA = os.path.join(BENCH, "data")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Physical operators that run Python: their presence in a plan means
# rows cross the Arrow/Python boundary.
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow", "AggregateInPandas", "WindowInPandas",
    "ArrowWindowPython", "FlatMapGroupsInPandasWithState", "PythonUDTF",
    "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)

# The JVM-only members the relational workload is drawn from; the plan
# check covers all of them, not only the ones a timed run executes.
RELATIONAL_CANDIDATES = (
    "q01_pricing_summary", "q02_filter_in", "q03_filter_contains",
    "q04_select_project", "q05_map_derived", "q06_sort_topk",
    "q07_distinct_any", "q08_distinct_keep_first", "q09_groupby_stats",
    "q10_reduce_sum", "q14_join_customer_orders",
    "q15_join_shipping_topk", "q16_join_region_revenue",
    "q17_union_nation_keys", "q18_intersect_keys", "q19_except_keys",
    "q20_window_rank", "q21_window_lag", "q22_pivot_status",
    "q23_window_tumbling_hour", "q24_window_session",
    "q26_dedup_exact", "q39_pipeline_spec", "q46_unpivot", "q47_ntile",
    "q54_sql_query", "q59_asof_join", "q60_range_join", "q61_rollup",
    "q62_profile", "q75_window_rollup", "q77_topk_per_group",
    "q86_anomaly_zscore", "q87_event_funnel", "q88_time_resample",
    "q89_retention_cohort", "q90_zorder", "q91_percentiles",
    "q93_sessionize", "q97_analytics_capstone", "q98_table_upsert",
    "q99_diff", "q100_scd2", "q158_stage_pipeline",
    "q159_approx_sketches",
)


def test_p50_needs_ten_samples_beyond_it():
    assert percentile(list(range(19)), 50) is None
    assert percentile(list(range(20)), 50) == pytest.approx(9.5)
    assert percentile([5.0] * 20, 50) == 5.0


def test_p90_needs_a_hundred_samples():
    assert percentile(list(range(99)), 90) is None
    assert percentile(list(range(100)), 90) == pytest.approx(89.1)


def test_percentile_interpolates_between_ranks():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == pytest.approx(50.5)
    assert percentile(xs, 50, min_beyond=0) == pytest.approx(50.5)
    assert percentile([], 50, min_beyond=0) is None


def test_quartile_spread():
    assert quartile_spread([10.0] * 10) == 0.0
    assert quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(3.0 / 3.0)


def test_vmhwm_parsing():
    status = "Name:\tjava\nVmPeak:\t 9000000 kB\nVmHWM:\t  1048576 kB\nVmRSS:\t 524288 kB\n"
    assert vmhwm_mb(status) == 1024.0
    assert vmhwm_mb("VmHWM: 2 GB") == 2048.0
    assert vmhwm_mb("Name:\tjava\n") is None


def test_every_member_resolves_to_a_query_with_an_oracle():
    from conveyor_spark.queries import ORACLES, QUERIES

    for wl in WORKLOADS.values():
        assert not set(wl.members) - set(QUERIES), wl.name
        assert not set(wl.members) - set(ORACLES), wl.name
        assert set(wl.chunked) <= set(wl.members)
        assert len(set(wl.members)) == len(wl.members)
    assert not set(RELATIONAL_CANDIDATES) - set(QUERIES)
    assert set(WORKLOADS["relational"].members) <= set(RELATIONAL_CANDIDATES)


def test_benchmark_json_matches_workloads():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert {m["name"] for m in bench["per_layer"]} == set(PER_LAYER)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert "setup_s" in {m["name"] for m in bench["end_to_end"]}


def test_data_holds_every_table_at_both_scales():
    import pyarrow.parquet as pq

    for sf, lineitem_rows in (("sf0.01", 60000), ("sf0.001", 6000)):
        for t in TABLES:
            assert os.path.isfile(os.path.join(DATA, sf, f"{t}.parquet")), (sf, t)
        assert pq.ParquetFile(os.path.join(DATA, sf, "lineitem.parquet")).metadata.num_rows \
            == lineitem_rows


def test_chunked_events_keep_the_schema_and_every_row(tmp_path):
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(DATA, "sf0.001", "events.parquet"))
    ts = events.column("ts").to_pylist()
    assert ts == sorted(ts)  # chunk_events relies on ts order
    assert chunking.chunk_events(events, str(tmp_path), 4, seed=3) == 4
    files = sorted((tmp_path / "events.parquet").iterdir())
    parts = [pq.read_table(f) for f in files]
    assert all(p.schema.equals(events.schema, check_metadata=False) for p in parts)
    assert sum(p.num_rows for p in parts) == events.num_rows
    mtimes = [f.stat().st_mtime for f in files]
    assert mtimes == sorted(mtimes)


def test_chunk_bounds_cover_every_row_once():
    import numpy as np

    for seed in range(20):
        b = chunking.chunk_bounds(1000, 8, np.random.default_rng(seed))
        assert b[0] == 0 and b[-1] == 1000 and len(b) == 9
        assert all(x < y for x, y in zip(b, b[1:]))
    assert chunking.chunk_bounds(3, 8, np.random.default_rng(0)) == [0, 1, 2, 3]


def test_parse_metric_and_rest_time():
    assert parse_metric("1,234") == 1234
    assert parse_metric("12.5 MiB") == 12.5 * 2**20
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "3.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 3.0: task 4))") == 3072
    assert parse_metric("") == 0.0
    assert rest_time("1970-01-01T00:00:01.500GMT") == 1.5


def test_member_ledger_attributes_jobs_by_group_and_window():
    records = [
        {"member": "m", "pass": 1, "build_s": 0.5, "sink_s": 0.25,
         "window": (100.0, 101.0), "persist_left": 2,
         "batches": [{"input_rows": 10, "trigger_ms": 40, "add_batch_ms": 20,
                      "planning_ms": 5, "wal_commit_ms": 3, "state_rows": 7,
                      "state_bytes": 2**20, "state_commit_ms": 1, "rows_evicted": 4}]},
    ]
    stage = {"numTasks": 4, "numFailedTasks": 0, "executorRunTime": 2000,
             "executorCpuTime": 10**9, "jvmGcTime": 100, "inputBytes": 2**20,
             "shuffleReadBytes": 0, "shuffleWriteBytes": 2**21,
             "memoryBytesSpilled": 0, "diskBytesSpilled": 0}
    rest = {
        "jobs": [
            {"id": 1, "group": "p1:m:build", "submitted": 100.1, "stages": [1]},
            {"id": 2, "group": "p1:m:sink", "submitted": 100.9, "stages": [2, 3]},
            {"id": 3, "group": "stream-run-id", "submitted": 100.5, "stages": [4]},
            {"id": 4, "group": None, "submitted": 200.0, "stages": [5]},
        ],
        "stages": [{"id": i, "status": "COMPLETE", **stage} for i in (1, 2, 4, 5)]
        + [{"id": 3, "status": "SKIPPED", **stage}],
        "sql": [{"id": 0, "submitted": 100.2, "jobs": [2], "py_sent": 2**20,
                 "py_received": 2**19, "py_rows": 9}],
    }
    (row,) = member_ledger(records, rest, {"m": 3 * 2**20})
    assert (row["jobs_build"], row["jobs_action"], row["jobs_other"]) == (1, 1, 1)
    assert row["stages"] == 3 and row["tasks"] == 12
    assert row["shuffle_write_mb"] == 6.0 and row["output_mb"] == 3.0
    assert row["python_mb_sent"] == 1.0 and row["python_rows_received"] == 9
    assert row["batches"] == 1 and row["state_mb"] == 1.0 and row["rows_evicted"] == 4
    layers = per_layer([row], session_start_s=9.0)
    assert list(layers) == list(PER_LAYER)
    assert layers["build.jobs"] == 1 and layers["trace.pass_s"] == 0.75
    assert layers["streaming.trigger_ms"] == 40 and layers["streaming.batches"] == 1


@pytest.fixture(scope="module")
def smoke_data(tmp_path_factory):
    # a copy, so members that write next to their input cannot touch
    # the benchmark's data
    import shutil

    out = str(tmp_path_factory.mktemp("sf0001") / "sf0.001")
    shutil.copytree(os.path.join(DATA, "sf0.001"), out)
    return out


def test_relational_members_run_no_python(smoke_data):
    """A plan check at sf0.001: no relational candidate has a Python
    exec node in its executed plan."""
    from conveyor_spark.queries import QUERIES
    from conveyor_spark.session import get_spark

    spark = get_spark(app_name="perfbench-plan-check", master="local[2]",
                      shuffle_partitions=2)
    offenders = {}
    for name in RELATIONAL_CANDIDATES:
        plan = QUERIES[name](spark, smoke_data)._jdf.queryExecution().executedPlan().toString()
        hits = [n for n in PYTHON_NODES if n in plan]
        if hits:
            offenders[name] = hits
        spark.catalog.clearCache()
    assert offenders == {}


def smoke(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, out.stderr[-2000:]
    return res


def trace_artifact(workload: str) -> dict:
    path = os.path.join(REPO, ".perfbench", "out", f"trace-{workload}-sf0.001-seed1.json")
    with open(path) as f:
        return json.load(f)


def values(res: dict, prefix: str) -> dict[str, float]:
    return {k: m["value"] for k, m in res["metrics"].items() if k.startswith(prefix)}


def test_relational_smoke_runs_untraced_then_traced():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    res = smoke("relational", 0)
    assert set(res["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())

    res = smoke("relational", 1)
    assert set(res["metrics"]) == set(PER_LAYER)
    assert all(v == 0 for v in values(res, "python.").values())
    assert all(v == 0 for v in values(res, "streaming.").values())
    for name in ("sink.jobs", "sink.output_mb", "spark.stages", "spark.tasks",
                 "spark.task_run_s", "spark.input_mb"):
        assert res["metrics"][name]["value"] > 0, name
    art = trace_artifact("relational")
    # the untraced run above is the same workload, seed, data and members
    assert "trace_overhead_s" in art["summary"]
    assert {s["name"] for s in art["spans"]} >= {"session.start", "build:q01_pricing_summary",
                                                 "sink:q01_pricing_summary"}
    row = art["ledger"][0]
    for field in ("build_s", "jobs_build", "jobs_action", "action_s", "shuffle_read_mb",
                  "spill_disk_mb", "python_mb_sent"):
        assert field in row


def test_datapipe_smoke_traced_measures_python_and_streaming():
    res = smoke("datapipe", 1)
    for name in ("python.mb_sent", "python.mb_received", "python.rows_received",
                 "streaming.batches", "streaming.input_rows", "streaming.trigger_ms",
                 "build.jobs", "spark.stages"):
        assert res["metrics"][name]["value"] > 0, name
    assert res["metrics"]["sink.output_mb"]["value"] == 0  # noop sink
