"""table.write / table.read — bucketed catalog tables.

The co-location story for repeated big joins: writing both fact and
dim bucketed by the join key with the same bucket count lets Spark
join them with NO shuffle on either side (bucket-aware scan), which
at 100 TB converts every subsequent join from a full-network shuffle
into a local merge. The reference has no table catalog at all.

Bucketed writes go through the session catalog (``saveAsTable``) —
set ``spark.sql.warehouse.dir`` for where files land.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.registry import OpContext, P, register


@register(
    "table.write", kind="sink", doc="Save as a (optionally bucketed) catalog table",
    params=[
        P("name", required=True, desc="Catalog table name"),
        P("format", default="parquet", desc="Storage format"),
        P("mode", default="overwrite",
          allowed=("overwrite", "append", "ignore", "error"), desc="Save mode"),
        P("bucket_by", "array", desc="Bucket column(s) for co-located joins"),
        P("num_buckets", "integer", default=32, min=1, desc="Bucket count"),
        P("sort_by", "array", desc="Sort column(s) within buckets"),
        P("partition_by", "array", desc="Hive-style partition column(s)"),
    ],
    example={"name": "warehouse_events", "bucket_by": ["user_id"], "num_buckets": 32},
    tags=["catalog", "bucketing"],
)
def table_write(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> None:
    name = config.get("name")
    df = inputs[0]
    writer = df.write.mode(config.get("mode", "overwrite")).format(
        config.get("format", "parquet")
    )
    if bucket_by := config.get("bucket_by"):
        cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
        n = int(config.get("num_buckets", 32))
        writer = writer.bucketBy(n, *cols)
        if sort_by := config.get("sort_by"):
            scols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
            writer = writer.sortBy(*scols)
    if parts := config.get("partition_by"):
        pcols = [parts] if isinstance(parts, str) else list(parts)
        writer = writer.partitionBy(*pcols)
    writer.saveAsTable(name)
    return None


@register(
    "table.read", kind="source", doc="Read a catalog table",
    params=[P("name", required=True, desc="Catalog table name")],
    example={"name": "warehouse_events"},
    tags=["catalog"],
)
def table_read(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    name = config.get("name")
    return ctx.spark.table(name)
