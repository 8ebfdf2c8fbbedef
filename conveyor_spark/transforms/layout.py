"""Physical-layout ops: repartition / coalesce / cache.

No reference equivalent (single-node). At 100 TB, controlling the
partitioning is how a pipeline author fixes the two classic failure
modes: too-few partitions (no parallelism, executor OOM) and too-many
tiny files on write. These are the spec-level knobs:

- `repartition.apply`: hash-repartition by columns (co-locates keys
  ahead of repeated joins/aggs — one shuffle now instead of one per
  consumer) or round-robin to a count.
- `coalesce.apply`: shrink partition count with NO shuffle (output
  file compaction before a write).
- `cache.apply`: persist a fan-out frame (the compiler also honors
  `cache: true` on any stage config).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


@register(
    "repartition.apply", kind="transform", doc="Hash/round-robin repartition",
    params=[
        P("num_partitions", "integer", min=1, desc="Target partition count"),
        P("by", "array", desc="Hash-partition column(s); round-robin when omitted"),
    ],
    example={"num_partitions": 200, "by": ["user_id"]},
    tags=["layout", "shuffle"],
)
def repartition_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    n = config.get("num_partitions")
    if n is not None and int(n) < 1:
        raise ConfigError(f"repartition.apply: num_partitions must be >= 1, got {n}")
    by = config.get("by")
    if by:
        cols = [by] if isinstance(by, str) else list(by)
        return df.repartition(int(n), *cols) if n is not None else df.repartition(*cols)
    if n is not None:
        return df.repartition(int(n))
    raise ConfigError("repartition.apply requires 'num_partitions' and/or 'by'")


@register(
    "coalesce.apply", kind="transform", doc="Reduce partition count without shuffle",
    params=[P("num_partitions", "integer", required=True, min=1,
              desc="Target partition count")],
    example={"num_partitions": 8},
    tags=["layout"],
)
def coalesce_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    n = config.get("num_partitions")
    if int(n) < 1:
        raise ConfigError(f"coalesce.apply: num_partitions must be >= 1, got {n}")
    return inputs[0].coalesce(int(n))


@register(
    "cache.apply", kind="transform", doc="Persist for multi-consumer reuse",
    params=[P("storage_level", default="MEMORY_AND_DISK",
              desc="Spark StorageLevel name (e.g. MEMORY_ONLY, DISK_ONLY)")],
    example={"storage_level": "MEMORY_AND_DISK"},
    tags=["layout", "cache"],
)
def cache_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    from pyspark import StorageLevel

    # explicit allowlist: getattr alone would accept StorageLevel.NONE,
    # a silent no-op persist
    levels = {
        "MEMORY_ONLY", "MEMORY_ONLY_2", "MEMORY_AND_DISK", "MEMORY_AND_DISK_2",
        "MEMORY_AND_DISK_DESER", "DISK_ONLY", "DISK_ONLY_2", "DISK_ONLY_3",
        "OFF_HEAP",
    }
    level = str(config.get("storage_level", "MEMORY_AND_DISK")).upper()
    if level not in levels:
        raise ConfigError(
            f"cache.apply: unknown storage_level {level!r} (one of {sorted(levels)})"
        )
    return inputs[0].persist(getattr(StorageLevel, level))
