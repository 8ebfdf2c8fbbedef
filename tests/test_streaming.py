"""Structured Streaming surface (availableNow => deterministic)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from conveyor_spark.streaming.ops import (
    read_file_stream,
    run_available_now,
    windowed_aggregate,
)


def test_stream_matches_batch_tumbling(spark, sf_dir):
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    sdf = read_file_stream(
        spark, sf_dir, batch.schema, "parquet",
        options={"pathGlobFilter": "events.parquet"},
    )
    def fix_ts(df):
        if dict(df.dtypes).get("ts") == "bigint":
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df

    agg = windowed_aggregate(
        fix_ts(sdf), "ts", "1 hour",
        aggs=[("event_id", "count", "n_events")], watermark="2 hours",
    )
    stream_result = run_available_now(agg, "t_stream_tumbling")
    expected = (
        fix_ts(batch)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("event_id").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    got = {(r["window_start"], r["n_events"]) for r in stream_result.select("window_start", "n_events").collect()}
    want = {(r["window_start"], r["n_events"]) for r in expected.collect()}
    assert got == want and len(got) > 0


CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
              "FileSystemBasedCheckpointFileManager")
FC_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
              "FileContextBasedCheckpointFileManager")


def _keyed_count_stream(spark, tmp_path):
    """A per-key count over two jsonl files, one micro-batch each;
    the full drain yields u0=4, u1=3, u2=3."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(2):
        (src / f"f{i}.jsonl").write_text("\n".join(
            json.dumps({"k": f"u{j % 3}"}) for j in range(i * 5, i * 5 + 5)))
    return (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1).json(str(src))
        .groupBy("k").count()
    )


def _spy_conf_sets(spark, monkeypatch) -> list:
    sets: list = []
    real = spark.conf.set

    def spy(key, value):
        sets.append((key, value))
        real(key, value)

    monkeypatch.setattr(spark.conf, "set", spy)
    return sets


def _drain(spark, sdf, how: str):
    if how == "run_available_now":
        out = run_available_now(sdf, "t_owned_ckpt", state_partitions=2)
        return sorted(map(tuple, out.collect()))
    from conveyor_spark.registry import OpContext
    from tests.conftest import run_op

    run_op(OpContext(spark=spark), "stdout_stream.write", [sdf],
           output_mode="complete")
    return None


@pytest.mark.parametrize("how", ["run_available_now", "stdout_stream.write"])
@pytest.mark.parametrize("prior", [None, FC_MANAGER])
def test_throwaway_drain_restores_checkpoint_manager(spark, tmp_path,
                                                     monkeypatch, how,
                                                     prior):
    """A drain that owns its checkpoint starts under the FileSystem
    checkpoint manager and leaves the session conf as it found it:
    set stays set (to its value), unset stays unset."""
    try:
        if prior is not None:
            spark.conf.set(CKPT_MANAGER, prior)
        sets = _spy_conf_sets(spark, monkeypatch)
        got = _drain(spark, _keyed_count_stream(spark, tmp_path), how)
        assert (CKPT_MANAGER, FS_MANAGER) in sets
        assert spark.conf.get(CKPT_MANAGER, None) == prior
        if got is not None:
            assert got == [("u0", 4), ("u1", 3), ("u2", 3)]
    finally:
        spark.conf.unset(CKPT_MANAGER)


@pytest.mark.parametrize("how", ["run_available_now", "stdout_stream.write"])
@pytest.mark.parametrize("prior", [None, FC_MANAGER])
def test_throwaway_drain_restores_checkpoint_manager_when_start_raises(
        spark, tmp_path, monkeypatch, how, prior):
    """The same holds when start() raises: the manager was in place
    when it was called, and the conf is back as found afterwards."""
    from pyspark.sql.streaming import DataStreamWriter

    seen = []

    def failing_start(self, *args, **kwargs):
        seen.append(spark.conf.get(CKPT_MANAGER, None))
        raise RuntimeError("start failed")

    try:
        if prior is not None:
            spark.conf.set(CKPT_MANAGER, prior)
        sdf = _keyed_count_stream(spark, tmp_path)
        monkeypatch.setattr(DataStreamWriter, "start", failing_start)
        with pytest.raises(RuntimeError, match="start failed"):
            _drain(spark, sdf, how)
        assert seen == [FS_MANAGER]
        assert spark.conf.get(CKPT_MANAGER, None) == prior
    finally:
        spark.conf.unset(CKPT_MANAGER)


def test_detached_stdout_drain_keeps_checkpoint_until_stopped(
        spark, tmp_path):
    """With await_termination=false the query outlives the sink call,
    so its temp checkpoint is held until the query is seen stopped
    (at the next detached drain), then deleted."""
    from conveyor_spark.registry import OpContext
    from conveyor_spark.sinks import stdout_stream
    from tests.conftest import run_op

    def detached_drain(sub):
        run_op(OpContext(spark=spark), "stdout_stream.write",
               [_keyed_count_stream(spark, tmp_path / sub)],
               output_mode="complete", await_termination=False)
        return stdout_stream._DETACHED[-1]

    (tmp_path / "a").mkdir(), (tmp_path / "b").mkdir()
    query, ckpt = detached_drain("a")
    query.awaitTermination()
    assert os.path.isdir(os.path.join(ckpt.name, "commits"))
    later_query, _ = detached_drain("b")
    later_query.awaitTermination()
    assert not os.path.exists(ckpt.name)


def test_durable_checkpoint_drain_keeps_default_manager(spark, tmp_path,
                                                        monkeypatch):
    """A caller's checkpoint= path may be shared or resumed, so its
    drain keeps Spark's default (fail-if-exists) checkpoint manager."""
    sdf = _keyed_count_stream(spark, tmp_path)
    sets = _spy_conf_sets(spark, monkeypatch)
    out = run_available_now(sdf, "t_durable_ckpt", state_partitions=2,
                            checkpoint=str(tmp_path / "durable"))
    assert sorted(map(tuple, out.collect())) == [("u0", 4), ("u1", 3),
                                                 ("u2", 3)]
    assert sets, "the drain set no conf at all"
    assert all(k != CKPT_MANAGER for k, _ in sets)


def test_throwaway_checkpoint_keeps_state_checksums(spark, tmp_path,
                                                    monkeypatch):
    """Under the FileSystem manager the checkpoint still holds every
    state delta with Spark's checksum file and Hadoop's .crc files."""
    import contextlib

    import conveyor_spark.streaming.ops as ops

    ckpt = tmp_path / "ckpt"
    monkeypatch.setattr(ops, "checkpoint_tmpdir",
                        lambda prefix: contextlib.nullcontext(str(ckpt)))
    got = _drain(spark, _keyed_count_stream(spark, tmp_path),
                 "run_available_now")
    assert got == [("u0", 4), ("u1", 3), ("u2", 3)]
    assert len(ops.RECENT_PROGRESS["t_owned_ckpt"]) == 2
    for part in range(2):
        files = set(os.listdir(ckpt / "state" / "0" / str(part)))
        for version in (1, 2):   # one delta per micro-batch
            assert {f"{version}.delta", f"{version}.delta.crc",
                    f".{version}.delta.crc",
                    f".{version}.delta.crc.crc"} <= files, files


def test_state_partitions_env_override_is_value_neutral(spark, sf_dir,
                                                        monkeypatch):
    """SPARK_GRAFT_STATE_PARTITIONS is the scale knob for the
    per-query gate-scale pins: it must change ONLY the store layout,
    never the values (the r11 part7 invariance axis, now as the
    knob's own contract)."""
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")

    def result(env: str | None):
        if env is None:
            monkeypatch.delenv("SPARK_GRAFT_STATE_PARTITIONS",
                               raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_STATE_PARTITIONS", env)
        sdf = read_file_stream(
            spark, sf_dir, batch.schema, "parquet",
            options={"pathGlobFilter": "events.parquet"},
        )
        if dict(sdf.dtypes).get("ts") == "bigint":
            sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        agg = windowed_aggregate(
            sdf, "ts", "1 hour",
            aggs=[("event_id", "count", "n_events")], watermark="2 hours",
        )
        out = run_available_now(agg, f"t_state_knob_{env or 'pin'}",
                                state_partitions=4)
        return {(r["window_start"], r["n_events"])
                for r in out.select("window_start", "n_events").collect()}

    pinned = result(None)       # the caller's pin (4)
    overridden = result("17")   # env wins, prime partition count
    assert pinned == overridden and len(pinned) > 0


def test_stream_session_window(spark, sf_dir):
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    sdf = read_file_stream(
        spark, sf_dir, batch.schema, "parquet",
        options={"pathGlobFilter": "events.parquet"},
    )
    if dict(sdf.dtypes).get("ts") == "bigint":
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = windowed_aggregate(
        sdf, "ts", "", aggs=[("event_id", "count", "n")],
        group_by=["user_id"], watermark="2 hours", session_gap="30 minutes",
    )
    out = run_available_now(agg, "t_stream_session")
    assert out.count() > 0
    assert {"window_start", "window_end", "user_id", "n"} <= set(out.columns)


def test_stream_dedup(spark, sf_dir):
    from conveyor_spark.streaming.ops import (
        read_file_stream,
        run_available_now,
        stream_dedup,
    )

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    sdf = read_file_stream(
        spark, sf_dir, batch.schema, "parquet",
        options={"pathGlobFilter": "events.parquet"},
    )
    if dict(sdf.dtypes).get("ts") == "bigint":
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    deduped = stream_dedup(sdf, ["user_id"], time_column="ts", watermark="10 days")
    out = run_available_now(deduped.select("user_id"), "t_stream_dedup", output_mode="append")
    n_users = batch.select("user_id").distinct().count()
    assert out.count() == n_users


def test_file_watch_reemit_on_modify(ctx, spark, tmp_path):
    """reemit_on_modify restores the reference's re-parse-on-change
    semantics (file_watch.rs:69-154): each saved version of ONE file
    streams once via the version spooler."""
    import json as _j
    import os
    import time as _t

    from conveyor_spark.sources.stream import FileVersionSpooler
    from tests.conftest import run_op

    src = tmp_path / "data.jsonl"
    spool = tmp_path / "spool"
    src.write_text('{"x": 1}\n')
    sdf = run_op(ctx, "file.watch", [], path=str(src), format="jsonl",
                 schema="x BIGINT", reemit_on_modify=True,
                 spool_dir=str(spool), _no_poller_thread=True)
    assert sdf.isStreaming

    from conveyor_spark.streaming.ops import run_available_now

    out1 = run_available_now(sdf, "t_reemit_1", output_mode="append")
    assert [r["x"] for r in out1.collect()] == [1]

    # modify in place -> a second version must stream (plain Spark
    # file source would ignore this)
    _t.sleep(0.01)  # ensure a new mtime_ns
    src.write_text('{"x": 2}\n')
    spooler = FileVersionSpooler(str(src), str(spool))
    assert spooler.poll_once()  # manual poll (no thread in tests)
    assert not spooler.poll_once()  # idempotent until next change
    out2 = run_available_now(sdf, "t_reemit_2", output_mode="append")
    assert sorted(r["x"] for r in out2.collect()) == [1, 2]
    assert len(os.listdir(spool)) == 2


def test_file_watch_reemit_requires_file(ctx, tmp_path):
    from conveyor_spark.errors import ConfigError
    from tests.conftest import run_op

    with pytest.raises(ConfigError, match="single FILE"):
        run_op(ctx, "file.watch", [], path=str(tmp_path), reemit_on_modify=True)


def test_stream_session_window_caps(ctx, spark, tmp_path):
    """Custom close rules: max_rows splits a burst that a plain gap
    session would keep open."""
    import json as _j
    from tests.conftest import run_op
    from conveyor_spark.streaming.ops import run_available_now

    src = tmp_path / "ev"
    src.mkdir()
    rows = [{"k": "u1", "ts": f"2024-01-01 00:00:{s:02d}"} for s in range(6)]
    (src / "a.jsonl").write_text("\n".join(_j.dumps(r) for r in rows))
    schema = "k string, ts string"
    sdf = (
        spark.readStream.schema(schema).json(str(src))
        .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
    )
    win = run_op(ctx, "stream.session_window", [sdf],
                 gap=60, key_columns="k", ts_column="ts", max_rows=2)
    out = run_available_now(win, "t_session_caps", output_mode="update")
    got = sorted((r["session_id"], r["n_rows"], r["closed"]) for r in out.collect())
    # 6 events 1s apart, gap 60s => one gap-session; max_rows=2 splits
    # into 3: two closed pairs + one open pair
    assert got == [(0, 2, True), (1, 2, True), (2, 2, False)]


def test_stream_session_window_validates(ctx, spark, tmp_path):
    import pytest as _pytest
    from tests.conftest import run_op
    from conveyor_spark.errors import ConfigError

    src = tmp_path / "ev2"
    src.mkdir()
    (src / "a.jsonl").write_text('{"k": "u1", "ts": "2024-01-01 00:00:00"}')
    sdf = (
        spark.readStream.schema("k string, ts string").json(str(src))
        .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
    )
    with _pytest.raises(ConfigError):
        run_op(ctx, "stream.session_window", [sdf], gap=0, key_columns="k")
    with _pytest.raises(ConfigError):
        run_op(ctx, "stream.session_window", [sdf], gap=60, key_columns="k", max_rows=0)
    with _pytest.raises(ConfigError):
        run_op(ctx, "stream.session_window", [sdf], gap=60)


def test_stream_join_validates(ctx, spark, tmp_path):
    import pytest as _pytest
    from tests.conftest import run_op
    from conveyor_spark.errors import ConfigError

    src = tmp_path / "sj"
    src.mkdir()
    (src / "a.jsonl").write_text('{"k": "u1", "ts": "2024-01-01 00:00:00"}')
    sdf = (
        spark.readStream.schema("k string, ts string").json(str(src))
        .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
    )
    # no watermark -> the documented default (max_delta as the delay)
    out = run_op(ctx, "stream.join", [sdf, sdf], on="k", time_column="ts",
                 max_delta=60)
    assert out.isStreaming
    # asymmetric bounds: the wider side (|min_delta| = 1 hour) must
    # set the derived watermark, or in-window late rows get dropped
    out2 = run_op(ctx, "stream.join", [sdf, sdf], on="k", time_column="ts",
                  max_delta="10 seconds", min_delta="-1 hour")
    plan2 = out2._jdf.queryExecution().analyzed().toString()
    # 3600s normalizes to "1 hours" in EventTimeWatermark
    assert "1 hours" in plan2, plan2
    with _pytest.raises(ConfigError):  # no time column
        run_op(ctx, "stream.join", [sdf, sdf], on="k", max_delta=60, watermark="1 hour")
    with _pytest.raises(ConfigError):  # no max_delta
        run_op(ctx, "stream.join", [sdf, sdf], on="k", time_column="ts",
               watermark="1 hour")


def test_stream_join_pairs_within_window(ctx, spark, tmp_path):
    import json as _j
    from tests.conftest import run_op
    from conveyor_spark.streaming.ops import run_available_now

    src = tmp_path / "sj2"
    src.mkdir()
    left_rows = [{"k": "u1", "ts": "2024-01-01 00:10:00", "tag": "L"}]
    right_rows = [
        {"k": "u1", "ts": "2024-01-01 00:05:00", "tag": "in"},    # 5 min before
        {"k": "u1", "ts": "2024-01-01 00:11:00", "tag": "after"}, # after left
        {"k": "u1", "ts": "2023-12-31 23:00:00", "tag": "old"},   # too old
        {"k": "u2", "ts": "2024-01-01 00:09:00", "tag": "otherk"},
    ]
    (src / "l.jsonl").write_text("\n".join(_j.dumps(r) for r in left_rows))
    rdir = tmp_path / "sj2r"
    rdir.mkdir()
    (rdir / "r.jsonl").write_text("\n".join(_j.dumps(r) for r in right_rows))

    def rd(p):
        return (
            spark.readStream.schema("k string, ts string, tag string").json(str(p))
            .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "tag")
        )

    joined = run_op(ctx, "stream.join", [rd(src), rd(rdir)], on="k",
                    time_column="ts", max_delta=600, min_delta=0,
                    watermark="2 hours")
    out = run_available_now(joined, "t_stream_join", output_mode="append")
    assert {r["r_tag"] for r in out.collect()} == {"in"}


def test_stream_funnel_state_across_batches(ctx, spark, tmp_path):
    """A user whose view lands in batch 1 and click/purchase in batch
    2 must convert: state carries across micro-batches."""
    import json as _j
    from tests.conftest import run_op
    from conveyor_spark.streaming.ops import run_available_now

    src = tmp_path / "fun"
    src.mkdir()
    b1 = [{"u": 1, "et": "view", "ts": "2024-01-01 10:00:00"},
          {"u": 2, "et": "click", "ts": "2024-01-01 10:00:00"}]
    b2 = [{"u": 1, "et": "click", "ts": "2024-01-02 10:00:00"},
          {"u": 1, "et": "purchase", "ts": "2024-01-02 11:00:00"},
          {"u": 2, "et": "view", "ts": "2024-01-02 10:00:00"}]
    (src / "b1.jsonl").write_text("\n".join(_j.dumps(r) for r in b1))
    (src / "b2.jsonl").write_text("\n".join(_j.dumps(r) for r in b2))
    sdf = (
        spark.readStream.schema("u bigint, et string, ts string")
        .option("maxFilesPerTrigger", 1).json(str(src))
        .selectExpr("u", "et", "CAST(ts AS TIMESTAMP) AS ts")
    )
    fun = run_op(ctx, "stream.funnel", [sdf],
                 steps=["view", "click", "purchase"], by="u",
                 type_column="et", ts_column="ts")
    out = run_available_now(fun, "t_stream_funnel", output_mode="update")
    rows = out.collect()
    # last update per user wins
    last = {}
    for r in rows:
        last[r["u"]] = r
    assert last[1]["steps_completed"] == 3 and last[1]["converted"]
    # u2's click arrived BEFORE its view (cross-batch): no rewind,
    # view in batch 2 starts the chain
    assert last[2]["steps_completed"] == 1 and not last[2]["converted"]


def test_stream_funnel_validates(ctx, spark, tmp_path):
    import pytest as _pytest
    from tests.conftest import run_op
    from conveyor_spark.errors import ConfigError

    src = tmp_path / "fun2"
    src.mkdir()
    (src / "a.jsonl").write_text('{"u": 1, "et": "view", "ts": "2024-01-01 00:00:00"}')
    sdf = (
        spark.readStream.schema("u bigint, et string, ts string").json(str(src))
        .selectExpr("u", "et", "CAST(ts AS TIMESTAMP) AS ts")
    )
    with _pytest.raises(ConfigError):
        run_op(ctx, "stream.funnel", [sdf], steps=["view"], by="u")
    with _pytest.raises(ConfigError):
        run_op(ctx, "stream.funnel", [sdf], steps=["view", "click"])


def test_funnel_and_sessions_order_across_arrow_chunks(ctx, spark, tmp_path):
    """applyInPandasWithState hands each key's batch as MULTIPLE Arrow
    chunks once it exceeds maxRecordsPerBatch; a chunk-local sort used
    to fold cross-chunk events out of event-time order (missed funnel
    conversions, wrong session starts). Shrink the chunk size and feed
    one key's data REVERSED so the late chunk holds the earliest
    events."""
    import json as _j

    from conveyor_spark.streaming.ops import run_available_now
    from tests.conftest import run_op

    src = tmp_path / "ev"
    src.mkdir()
    # one user: 120 alternating view/click pairs in REVERSE time order,
    # so with chunk size 40 the earliest events land in the last chunk
    rows = []
    for i in range(120):
        t = 120 - i
        rows.append({"user_id": "u1", "event_type": "view" if t % 2 else "click",
                     "t": float(t)})
    (src / "a.jsonl").write_text("\n".join(_j.dumps(r) for r in rows))
    schema = "user_id STRING, event_type STRING, t DOUBLE"
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "40")
    try:
        def stream():
            return (
                spark.readStream.schema(schema).json(str(src))
                .withColumn("ts", F.timestamp_seconds("t"))
            )

        out = run_op(ctx, "stream.funnel", [stream()],
                     steps=["view", "click"], by="user_id")
        got = run_available_now(out, "t_chunk_funnel", output_mode="update")
        r = got.collect()[-1]
        # view at t=1 then click at t=2 — only visible if the whole
        # batch was sorted before folding
        assert r["steps_completed"] == 2 and r["converted"]

        sess = run_op(ctx, "stream.session_window", [stream()],
                      gap=30, group_by=["user_id"])
        got = run_available_now(sess, "t_chunk_sess", output_mode="update")
        r = got.collect()[-1]
        # one contiguous session over all 120 events, starting at t=1
        assert r["n_rows"] == 120 and not r["closed"]
        assert r["start_ts"].second == 1 and r["start_ts"].minute == 0
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_streaming_queries_read_directory_shaped_tables(spark, tmp_path):
    """A multi-file (directory-shaped) events table must stream: the
    old idiom pointed pathGlobFilter='events.parquet' at sf_dir, and
    since the filter matches LEAF file names, a directory-shaped
    table silently streamed ZERO rows — all seven streaming queries
    returned empty on the round-11 multi-file layout run. The
    layout-agnostic loader streams the table directory itself."""
    import pyarrow.parquet as pq

    from conveyor_spark.queries import QUERIES

    src = "/root/testdata/sf0.001/events.parquet"
    tbl = pq.read_table(src)
    out_dir = tmp_path / "events.parquet"
    out_dir.mkdir()
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), str(out_dir / "part-00.parquet"))
    pq.write_table(tbl.slice(half), str(out_dir / "part-01.parquet"))

    rows = QUERIES["q103_stream_sliding_count_window"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) > 0
    # same result as the single-file layout (order-insensitive)
    single = QUERIES["q103_stream_sliding_count_window"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, single))


def test_state_partitions_param_stashes_request(spark, tmp_path):
    """state_partitions is a drain-time property, so the op can only
    REQUEST it: the validated value must land in ctx.stream_conf for
    the drain (stdout_stream sink / run_available_now) to apply."""
    import json as _j

    from conveyor_spark.registry import OpContext
    from tests.conftest import run_op

    src = tmp_path / "ev_sp"
    src.mkdir()
    (src / "a.jsonl").write_text('{"k": "u1", "ts": "2024-01-01 00:00:00"}')
    sdf = (
        spark.readStream.schema("k string, ts string").json(str(src))
        .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
    )
    fresh = OpContext(spark=spark)
    run_op(fresh, "stream.dedup", [sdf], columns=["k"], time_column="ts",
           state_partitions=8)
    reqs = fresh.stream_conf["state_partitions_by_stage"]
    assert list(reqs.values()) == [("stream.dedup", 8)]

    # every stateful streaming op offers the param
    fresh2 = OpContext(spark=spark)
    run_op(fresh2, "stream.session_window", [sdf], gap=60, key_columns="k",
           state_partitions=6)
    reqs2 = fresh2.stream_conf["state_partitions_by_stage"]
    assert list(reqs2.values()) == [("stream.session_window", 6)]


def test_state_partitions_param_validates(spark, tmp_path):
    from conveyor_spark.errors import ConfigError
    from conveyor_spark.registry import OpContext
    from tests.conftest import run_op

    src = tmp_path / "ev_spv"
    src.mkdir()
    (src / "a.jsonl").write_text('{"k": "u1", "ts": "2024-01-01 00:00:00"}')
    sdf = (
        spark.readStream.schema("k string, ts string").json(str(src))
        .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
    )
    for bad in (0, -4, "nope"):
        with pytest.raises(ConfigError, match="state_partitions"):
            run_op(OpContext(spark=spark), "stream.dedup", [sdf],
                   columns=["k"], time_column="ts", state_partitions=bad)


def test_state_partitions_env_malformed_fails_loudly(monkeypatch):
    """A malformed SPARK_GRAFT_STATE_PARTITIONS must name itself in a
    ConfigError, not surface as a bare ValueError deep in the drain."""
    from conveyor_spark.errors import ConfigError
    from conveyor_spark.streaming.ops import resolve_state_partitions

    for bad in ("abc", "0", "-3", "4.5"):
        monkeypatch.setenv("SPARK_GRAFT_STATE_PARTITIONS", bad)
        with pytest.raises(ConfigError, match="SPARK_GRAFT_STATE_PARTITIONS"):
            resolve_state_partitions(None)
    monkeypatch.setenv("SPARK_GRAFT_STATE_PARTITIONS", "17")
    assert resolve_state_partitions(4) == 17      # env wins
    monkeypatch.delenv("SPARK_GRAFT_STATE_PARTITIONS")
    assert resolve_state_partitions(4) == 4       # else the request
    assert resolve_state_partitions(None) is None


def test_state_partitions_applied_at_stdout_stream_drain(spark, tmp_path,
                                                         monkeypatch):
    """End-to-end: the op's request sizes the state stores of the
    stream the sink starts (visible as numShufflePartitions in the
    final progress), and the session conf is restored afterwards."""
    import json as _j

    from conveyor_spark.registry import OpContext
    from conveyor_spark.streaming.ops import RECENT_PROGRESS
    from tests.conftest import run_op

    monkeypatch.delenv("SPARK_GRAFT_STATE_PARTITIONS", raising=False)
    src = tmp_path / "ev_drain"
    src.mkdir()
    rows = [{"k": f"u{i}", "ts": f"2024-01-01 00:00:{i:02d}"} for i in range(6)]
    (src / "a.jsonl").write_text("\n".join(_j.dumps(r) for r in rows))
    sdf = (
        spark.readStream.schema("k string, ts string").json(str(src))
        .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
    )
    fresh = OpContext(spark=spark)
    deduped = run_op(fresh, "stream.dedup", [sdf], columns=["k"],
                     time_column="ts", state_partitions=3)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    run_op(fresh, "stdout_stream.write", [deduped], format="jsonl")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    prog = (RECENT_PROGRESS.get("stdout_stream.write") or [{}])[-1]
    ops_ = prog.get("stateOperators") or []
    assert ops_, f"no stateOperators in final progress: {prog.keys()}"
    assert int(ops_[0]["numShufflePartitions"]) == 3


def test_max_files_per_trigger_env_knob(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_MAX_FILES_PER_TRIGGER=1 drains a K-file table as K
    micro-batches (per-batch curve in RECENT_PROGRESS), with values
    identical to the single-batch drain; malformed values fail with a
    named ConfigError."""
    import json as _j

    from conveyor_spark.errors import ConfigError
    from conveyor_spark.streaming.ops import (
        RECENT_PROGRESS, read_file_stream, run_available_now,
    )

    src = tmp_path / "ev_mft"
    src.mkdir()
    for i in range(3):
        rows = [{"k": f"u{i}_{j}", "ts": f"2024-01-0{i + 1} 00:00:{j:02d}"}
                for j in range(4)]
        (src / f"chunk-{i}.jsonl").write_text(
            "\n".join(_j.dumps(r) for r in rows))

    def drain(tag):
        sdf = read_file_stream(spark, str(src), "k string, ts string",
                               "json")
        out = run_available_now(sdf.select("k"), f"t_mft_{tag}",
                                output_mode="append")
        return sorted(r["k"] for r in out.collect())

    monkeypatch.delenv("SPARK_GRAFT_MAX_FILES_PER_TRIGGER",
                       raising=False)
    single = drain("single")
    single_batches = len(RECENT_PROGRESS["t_mft_single"])
    monkeypatch.setenv("SPARK_GRAFT_MAX_FILES_PER_TRIGGER", "1")
    chunked = drain("chunked")
    fed = [p for p in RECENT_PROGRESS["t_mft_chunked"]
           if p.get("numInputRows")]
    assert chunked == single and len(single) == 12
    assert len(fed) == 3 and single_batches <= 2

    for bad in ("0", "-2", "abc"):
        monkeypatch.setenv("SPARK_GRAFT_MAX_FILES_PER_TRIGGER", bad)
        with pytest.raises(ConfigError,
                           match="SPARK_GRAFT_MAX_FILES_PER_TRIGGER"):
            read_file_stream(spark, str(src), "k string, ts string",
                             "json")
    # an explicit option always wins over the env knob
    monkeypatch.setenv("SPARK_GRAFT_MAX_FILES_PER_TRIGGER", "1")
    sdf = read_file_stream(spark, str(src), "k string, ts string",
                           "json", options={"maxFilesPerTrigger": "2"})
    out = run_available_now(sdf.select("k"), "t_mft_opt",
                            output_mode="append")
    fed2 = [p for p in RECENT_PROGRESS["t_mft_opt"]
            if p.get("numInputRows")]
    assert len(fed2) == 2 and len(out.collect()) == 12


def test_state_partitions_dead_on_batch_input(spark, sf_dir):
    """stream.dedup and aggregate.stream also run in batch mode —
    there state_partitions configures nothing and must be rejected
    as dead config, not silently stashed."""
    from conveyor_spark.errors import ConfigError
    from conveyor_spark.registry import OpContext
    from tests.conftest import run_op

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    with pytest.raises(ConfigError, match="batch input"):
        run_op(OpContext(spark=spark), "stream.dedup", [batch],
               columns=["user_id"], state_partitions=8)
    with pytest.raises(ConfigError, match="batch input"):
        run_op(OpContext(spark=spark), "aggregate.stream", [batch],
               operation="count", state_partitions=8)


def test_state_partitions_request_consumed_once(spark, tmp_path,
                                                monkeypatch):
    """A drained request must NOT leak into a later param-less stream
    of the same pipeline: the sink pops it."""
    import json as _j

    from conveyor_spark.registry import OpContext
    from conveyor_spark.streaming.ops import RECENT_PROGRESS
    from tests.conftest import run_op

    monkeypatch.delenv("SPARK_GRAFT_STATE_PARTITIONS", raising=False)
    src = tmp_path / "ev_consume"
    src.mkdir()
    rows = [{"k": f"u{i}", "ts": f"2024-01-01 00:00:{i:02d}"}
            for i in range(4)]
    (src / "a.jsonl").write_text("\n".join(_j.dumps(r) for r in rows))

    def sdf():
        return (
            spark.readStream.schema("k string, ts string").json(str(src))
            .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
        )

    ctx2 = OpContext(spark=spark)
    first = run_op(ctx2, "stream.dedup", [sdf()], columns=["k"],
                   time_column="ts", state_partitions=3)
    run_op(ctx2, "stdout_stream.write", [first], format="jsonl")
    # consumed by the drain: no pending requests remain
    assert not ctx2.stream_conf.get("state_partitions_by_stage")
    second = run_op(ctx2, "stream.dedup", [sdf()], columns=["k"],
                    time_column="ts")  # no request this time
    run_op(ctx2, "stdout_stream.write", [second], format="jsonl")
    prog = (RECENT_PROGRESS.get("stdout_stream.write") or [{}])[-1]
    ops_ = prog.get("stateOperators") or []
    assert ops_ and int(ops_[0]["numShufflePartitions"]) != 3


def test_state_partitions_two_streams_resolve_independently(
        spark, tmp_path, monkeypatch):
    """The review-caught clobber: in a two-stream pipeline both ops'
    requests are recorded BEFORE either drain runs (topological
    generations), so a single slot would apply stream B's value to
    stream A. With per-stage requests + compiler ancestor resolution,
    each drain sizes its OWN stream."""
    import json as _j

    from conveyor_spark.compiler import run_pipeline
    from conveyor_spark.config.spec import load_spec
    from conveyor_spark.streaming.ops import RECENT_PROGRESS

    monkeypatch.delenv("SPARK_GRAFT_STATE_PARTITIONS", raising=False)
    d_a, d_b = tmp_path / "in_a", tmp_path / "in_b"
    d_a.mkdir(), d_b.mkdir()
    rows = [{"k": f"u{i}"} for i in range(6)]
    (d_a / "a.jsonl").write_text("\n".join(_j.dumps(r) for r in rows))
    (d_b / "b.jsonl").write_text("\n".join(_j.dumps(r) for r in rows))
    toml = tmp_path / "two_streams.toml"
    toml.write_text(f'''
[[stages]]
id = "src_a"
function = "file.watch"
[stages.config]
path = "{d_a}"
format = "jsonl"
schema = "k STRING"

[[stages]]
id = "agg_a"
function = "aggregate.stream"
inputs = ["src_a"]
[stages.config]
operation = "count"
group_by = ["k"]
state_partitions = 3

[[stages]]
id = "out_a"
function = "stdout_stream.write"
inputs = ["agg_a"]
[stages.config]
output_mode = "complete"

[[stages]]
id = "src_b"
function = "file.watch"
[stages.config]
path = "{d_b}"
format = "jsonl"
schema = "k STRING"

[[stages]]
id = "agg_b"
function = "aggregate.stream"
inputs = ["src_b"]
[stages.config]
operation = "count"
group_by = ["k"]
state_partitions = 5

[[stages]]
id = "out_b"
function = "stdout_stream.write"
inputs = ["agg_b"]
[stages.config]
output_mode = "complete"
''')
    result = run_pipeline(spark, load_spec(str(toml)))
    assert not result.errors, result.errors

    def sp_of(stage):
        prog = (RECENT_PROGRESS.get(f"stdout_stream.write:{stage}")
                or [{}])[-1]
        ops_ = prog.get("stateOperators") or []
        assert ops_, f"no progress for {stage}"
        return int(ops_[0]["numShufflePartitions"])

    assert sp_of("out_a") == 3
    assert sp_of("out_b") == 5


def test_state_partitions_direct_conflict_fails_loudly(spark, tmp_path):
    """Outside the compiler there is no DAG to attribute requests —
    two DIFFERENT pending values at one drain must raise, never
    silently apply one stream's knob to another."""
    import json as _j

    from conveyor_spark.errors import ConfigError
    from conveyor_spark.registry import OpContext
    from tests.conftest import run_op

    src = tmp_path / "ev_conflict"
    src.mkdir()
    (src / "a.jsonl").write_text(_j.dumps({"k": "u1",
                                           "ts": "2024-01-01 00:00:00"}))

    def sdf():
        return (
            spark.readStream.schema("k string, ts string").json(str(src))
            .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
        )

    cx = OpContext(spark=spark)
    a = run_op(cx, "stream.dedup", [sdf()], columns=["k"],
               time_column="ts", state_partitions=3)
    run_op(cx, "stream.dedup", [sdf()], columns=["k"],
           time_column="ts", state_partitions=9)
    with pytest.raises(ConfigError, match="conflicting state_partitions"):
        run_op(cx, "stdout_stream.write", [a], format="jsonl")
