"""parquet.read — columnar scan (engine-native extension).

The reference has no parquet source; this is the primary scan for our
Spark engine (driver testdata is parquet). Filter pushdown + column
pruning reach the scan automatically when stages compose lazily.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


@register(
    "parquet.read", kind="source", doc="Read parquet file(s)/directory",
    params=[
        P("path", required=True, desc="File or directory path"),
        P("merge_schema", "boolean", default=False,
          desc="Merge schemas across files (schema evolution)"),
    ],
    example={"path": "data/table.parquet"},
    tags=["file", "parquet", "batch"],
)
def parquet_read(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    path = config.get("path")
    reader = ctx.spark.read
    if config.get("merge_schema"):
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


@register(
    "parquet.write", kind="sink", doc="Write DataFrame as parquet",
    params=[
        P("path", required=True, desc="Output directory"),
        P("mode", default="overwrite",
          allowed=("overwrite", "append", "ignore", "error"), desc="Save mode"),
        P("partition_by", "array", desc="Hive-style partition column(s)"),
        P("compression", desc="Codec (snappy default; zstd/gzip/none)"),
        P("max_records_per_file", "integer", min=1,
          desc="Shard size cap per output file"),
    ],
    example={"path": "out/result", "mode": "overwrite"},
    tags=["file", "parquet", "batch"],
)
def parquet_write(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> None:
    """Extra knobs for training-shard output: ``max_records_per_file``
    caps rows per output file (uniform shards for data loaders —
    Spark splits a task's output into multiple files at the cap;
    combine with repartition.apply for shard-count control),
    ``compression`` picks the codec (snappy default, zstd for
    long-term storage ratios)."""
    path = config.get("path")
    df = inputs[0]
    writer = df.write.mode(config.get("mode", "overwrite"))
    if parts := config.get("partition_by"):
        writer = writer.partitionBy(*([parts] if isinstance(parts, str) else parts))
    if (mrpf := config.get("max_records_per_file")) is not None:
        if int(mrpf) < 1:
            raise ConfigError("parquet.write: max_records_per_file must be >= 1")
        writer = writer.option("maxRecordsPerFile", int(mrpf))
    if codec := config.get("compression"):
        writer = writer.option("compression", codec)
    writer.parquet(path)
    return None
