"""Kafka connector ops (batch + streaming).

Reference: plugins/conveyor-plugin-kafka/src/lib.rs:33-288 — consume a
topic until max_messages/timeout into records; produce records with a
flush. Spark-first: the built-in ``format("kafka")`` source/sink
(spark-sql-kafka package) — batch reads bounded by offsets, streaming
reads via readStream, exactly-once producing via writeStream +
checkpoints.

The kafka JARs aren't on this container's classpath; ops detect that
and raise a clear error. The plan construction itself is real.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


def _has_kafka(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def _require(spark) -> None:
    if not _has_kafka(spark):
        raise ConfigError(
            "kafka ops require the spark-sql-kafka package on the classpath "
            "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>)"
        )


def _check(config: dict[str, Any]) -> tuple[str, str]:
    brokers = config.get("brokers")
    topic = config.get("topic")
    if not brokers or not topic:
        raise ConfigError("kafka ops require 'brokers' and 'topic'")
    return brokers, topic


@register(
    "kafka.read", kind="source", streaming_capable=True,
    doc="Consume a Kafka topic (batch or stream)",
    params=[
        P("brokers", required=True, desc="Bootstrap servers (host:port,...)"),
        P("topic", required=True, desc="Topic to subscribe"),
        P("streaming", "boolean", default=False,
          desc="readStream instead of a bounded batch read"),
        P("starting_offsets", default="earliest",
          allowed=("earliest", "latest"), desc="Where to start consuming"),
        P("group_id", desc="Consumer group id"),
        P("max_messages", "integer", min=1, desc="Batch mode row cap"),
        P("raw", "boolean", default=False,
          desc="Keep key/value as binary instead of casting to string"),
    ],
    example={"brokers": "localhost:9092", "topic": "events"},
    tags=["kafka", "streaming"],
)
def kafka_read(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    brokers, topic = _check(config)
    _require(ctx.spark)
    streaming = bool(config.get("streaming", False))
    reader = (ctx.spark.readStream if streaming else ctx.spark.read).format("kafka")
    reader = (
        reader.option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", config.get("starting_offsets", "earliest"))
    )
    if streaming and (n := config.get("max_messages")):
        # per-micro-batch bound (streaming-only option)
        reader = reader.option("maxOffsetsPerTrigger", str(int(n)))
    if group := config.get("group_id"):
        reader = reader.option("kafka.group.id", group)
    df = reader.load()
    if not streaming and (n := config.get("max_messages")):
        # batch bound ≙ reference's max_messages poll loop (lib.rs:113).
        # maxOffsetsPerTrigger is a STREAMING option and is silently
        # ignored by batch reads; a LocalLimit stops each partition's
        # consumer after it has produced enough rows. (Exact
        # per-partition endingOffsets would need an admin client
        # round-trip; limit keeps the bound plan-side.)
        df = df.limit(int(n))
    if config.get("raw", False):
        return df
    # records mode: value bytes -> string (JSON parsing is a follow-up
    # json.extract / from_json stage, mirroring the reference's
    # format handling)
    return df.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "topic", "partition", "offset", "timestamp",
    )


@register(
    "kafka.write", kind="sink", streaming_capable=True,
    doc="Produce rows to a Kafka topic",
    params=[
        P("brokers", required=True, desc="Bootstrap servers (host:port,...)"),
        P("topic", required=True, desc="Target topic"),
        P("checkpoint_location", desc="Streaming: exactly-once checkpoint dir"),
        P("await_termination", "boolean", default=True,
          desc="Streaming: block until the query stops"),
    ],
    example={"brokers": "localhost:9092", "topic": "out"},
    tags=["kafka", "streaming"],
)
def kafka_write(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> None:
    brokers, topic = _check(config)
    _require(ctx.spark)
    df = inputs[0]
    cols = df.columns
    if "value" not in cols:
        # serialize whole row as JSON value (reference produces the
        # record JSON, lib.rs:194-288)
        df = df.select(F.to_json(F.struct(*cols)).alias("value"))
    if df.isStreaming:
        checkpoint = config.get("checkpoint_location")
        if not checkpoint:
            raise ConfigError("streaming kafka.write requires 'checkpoint_location'")
        from conveyor_spark.streaming.ops import (
            consume_state_partitions, resolve_state_partitions, session_conf,
        )

        # honor an upstream stateful op's state_partitions request,
        # exactly like the stdout_stream drain — state stores are
        # sized by spark.sql.shuffle.partitions at stream START. The
        # checkpoint is the caller's durable one, so the stream keeps
        # Spark's default checkpoint manager and retention.
        sp = resolve_state_partitions(consume_state_partitions(ctx))
        conf = {} if sp is None else {"spark.sql.shuffle.partitions": str(sp)}
        with session_conf(df.sparkSession, conf):
            query = (
                df.writeStream.format("kafka")
                .option("kafka.bootstrap.servers", brokers)
                .option("topic", topic)
                .option("checkpointLocation", checkpoint)
                .start()
            )
        # Block until the stream ends (default): otherwise the driver
        # can exit before any micro-batch commits and nothing is
        # produced. await_termination=false opts out and returns the
        # StreamingQuery for caller-managed lifecycles.
        if config.get("await_termination", True):
            query.awaitTermination()
            return None
        return query
    (
        df.write.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .save()
    )
    return None
