"""`pack.sequences` — pack documents into fixed token-budget
training sequences (no document splitting).

The last hop of a training-data pipeline: a trainer wants sequences
of ≤ context-length tokens built from whole documents (splitting is
text.chunk's job, upstream). This is bin packing; the streaming
**next-fit** discipline is the one that scales: one pass, O(1) state
(current fill), no sorting by size, deterministic.

Scale design: rows are sharded by a *portable* hash of the id (md5,
not Spark's internal hash — so the assignment is reproducible in SQL
and across engines), shuffled once on the shard key, sorted
within partitions by (shard, id), then scanned by an Arrow-batched
iterator that carries (shard, fill, pack index) across batches —
the partition is NEVER materialized in memory (unlike a groupBy/
applyInPandas formulation, which would need a whole shard resident:
at 100 TB a shard is tens of GB). Pack ids are
``shard * 2^32 + local_index`` — a pure function of the data, NOT of
the partitioning: shards may co-habit a partition (the scan resets
state on shard change) and the result is identical on any cluster
size or shuffle-partition setting.

Packing quality: next-fit wastes ≤ 50% in the adversarial worst case
but ~budget/(2·avg_doc) in practice; docs arrive hash-shuffled, so
fills concentrate near budget (measured ~90% at 16x-avg budgets).
First-fit-decreasing packs tighter but needs size-sorted input —
a global sort by length and sequential bin state, which is exactly
what doesn't scale-out.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.hashing import md5_int


@register(
    "pack.sequences", kind="transform",
    doc="Pack docs into token-budget sequences (next-fit)",
    params=[
        P("weight_column", required=True, desc="Token-count column"),
        P("budget", "integer", required=True, min=1, desc="Tokens per pack"),
        P("id_column", required=True, desc="Document id (deterministic order)"),
        P("output_column", default="pack_id", desc="Pack id column"),
        P("shards", "integer", default=64, min=1,
          desc="Parallel packing shards (packs never span shards)"),
        P("oversize", default="own_pack", allowed=("own_pack", "error", "drop"),
          desc="Docs larger than the budget"),
        P("seed", default="pack", desc="Shard-assignment hash seed"),
    ],
    example={"weight_column": "n_tokens", "budget": 4096, "id_column": "doc_id"},
    tags=["packing", "training", "datapipe"],
)
def pack_sequences(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Assign each row a ``pack_id`` such that the sum of
    ``weight_column`` within a pack is ≤ ``budget`` and packs are
    filled next-fit in (shard, id) order.

    Config: ``weight_column`` (precomputed token/char count — compose
    with text.token_count), ``budget``, ``id_column``, ``shards``
    (default 64: parallel packing lanes; pack ids encode the lane),
    ``output_column`` (default "pack_id"), ``seed`` (shard hash
    seed), ``oversize`` = "own_pack" (default: a row heavier than the
    budget gets a pack of its own) | "error" | "drop". NULL weights
    count as 0.

    Deterministic on any partitioning: shard = md5(id, seed) % shards,
    scan order = (shard, id), pack_id = shard * 2^32 + index.
    """
    df = inputs[0]
    wcol = config.get("weight_column")
    budget = int(config["budget"])
    id_column = config.get("id_column")
    if budget < 1:
        raise ConfigError(f"pack.sequences: budget must be >= 1, got {budget}")
    shards = int(config.get("shards", 64))
    if shards < 1:
        raise ConfigError(f"pack.sequences: shards must be >= 1, got {shards}")
    out_col = config.get("output_column", "pack_id")
    seed = config.get("seed", "pack")
    oversize = config.get("oversize", "own_pack")

    w = F.coalesce(F.col(wcol).cast("bigint"), F.lit(0))
    if oversize == "drop":
        df = df.filter(w <= budget)
    elif oversize == "error":
        # fold the check into the weight column itself — a standalone
        # raise_error column would be pruned as unused by Catalyst
        df = df.withColumn(
            wcol,
            F.when(
                w > budget,
                F.raise_error(F.concat(
                    F.lit(f"pack.sequences: row heavier than budget {budget} "
                          f"(set oversize='own_pack' or 'drop'): id="),
                    F.col(id_column).cast("string"),
                )).cast(df.schema[wcol].dataType),
            ).otherwise(F.col(wcol)),
        )

    shard = F.pmod(md5_int(F.concat(F.col(id_column).cast("string"), F.lit(f"#{seed}"))),
                   F.lit(shards))
    staged = (
        df.withColumn("__shard", shard)
        .repartition(F.col("__shard"))
        .sortWithinPartitions("__shard", id_column)
    )
    schema = T.StructType(staged.schema.fields + [T.StructField(out_col, T.LongType())])

    def scan(batches: Iterator) -> Iterator:
        import pandas as pd

        cur_shard, fill, idx = None, 0, -1
        for pdf in batches:
            packs = []
            for s, wt in zip(pdf["__shard"], pdf[wcol]):
                wt = 0 if pd.isna(wt) else int(wt)
                if s != cur_shard:
                    cur_shard, fill, idx = s, 0, -1
                if idx < 0 or fill + wt > budget:
                    idx += 1
                    fill = wt
                else:
                    fill += wt
                packs.append((int(s) << 32) + idx)
            pdf[out_col] = packs
            yield pdf

    return staged.mapInPandas(scan, schema=schema).drop("__shard")
