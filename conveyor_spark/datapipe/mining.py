"""Parallel-pair mining over embedding columns (margin scoring).

``mine.bitext`` — the CCMatrix / LASER recipe (Artetxe & Schwenk's
ratio margin): align two corpora (e.g. sentences in two languages
embedded in a shared space) by scoring each candidate pair with

    margin(x, y) = cos(x, y) / ((avgTopK(x) + avgTopK(y)) * 0.5)

where avgTopK(v) is the mean cosine of v's k nearest candidates on
the other side. Raw cosine retrieves false friends (hub vectors that
are close to everything); the margin denominator normalizes each
vector's own neighborhood density away, which is why every serious
bitext-mining pipeline uses it over plain cosine.

Scale design: candidate pairs come from an equi-join on
``bucket_column`` (an embedding.lsh band, embedding.kmeans cell, or
language-agnostic shard) — NEVER an all-pairs product; norms project
once per side before the join; the top-k neighborhood statistics are
per-key windows over the candidate pairs. Brute mode (no
bucket_column) broadcasts the target side and is for benchmark-sized
targets only, same contract as knn.brute.

Determinism: cosine rounds to 6 (the repo's embedding policy); the
top-k means fold in rank order; the margin is one double expression
over those values, rounded to 9; all ties break on ids.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.similarity import (
    norm_expr, pair_cosine, valid_norm,
)


@register(
    "mine.bitext", kind="transform", min_inputs=2, max_inputs=2,
    doc="Margin-based parallel-pair mining (CCMatrix/LASER recipe)",
    params=[
        P("id_column", required=True, desc="Id column on BOTH sides"),
        P("column", default="embedding", desc="Vector column, both sides"),
        P("bucket_column",
          desc="Equi-join key bounding the candidate pairs (LSH band / "
               "kmeans cell); omit for brute mode (small target only)"),
        P("k", "integer", default=4, min=1,
          desc="Neighborhood size for the margin denominator"),
        P("threshold", "float", default=0.0,
          desc="Keep pairs with margin >= this"),
        P("mutual", "boolean", default=True,
          desc="Keep only mutual best matches (both directions)"),
        P("dedup_pairs", "boolean", default=False,
          desc="Drop duplicate (src,tgt) candidates first — required "
               "when bucket_column rows are exploded bands (one id in "
               "several buckets), else duplicates inflate the "
               "neighborhood means"),
    ],
    example={"id_column": "doc_id", "column": "embedding", "k": 2,
             "mutual": False},
    tags=["embedding", "mining", "alignment", "datapipe"],
)
def mine_bitext(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Output: one row per mined pair — (src id, tgt id, cosine,
    margin) — each source's best-margin target (ties: lower tgt id),
    filtered to margin >= threshold; with ``mutual`` (default) the
    pair must be the best in BOTH directions, the standard
    high-precision setting.

    inputs: [source, target] — same id/vector (and bucket) column
    names on both sides. Zero/NaN-norm vectors are excluded up front
    (ANSI divide-by-zero discipline, same as the knn ops).

    Scale: see module docstring — bucketed candidates, one window
    pass per direction for the top-k means, one window per direction
    for the argmax. Nothing all-pairs unless brute mode is chosen
    explicitly."""
    src, tgt = inputs
    id_column = config.get("id_column")
    column = config.get("column", "embedding")
    bucket = config.get("bucket_column")
    for dfx, side in ((src, "source"), (tgt, "target")):
        for c in filter(None, (id_column, column, bucket)):
            if c not in dfx.columns:
                raise ConfigError(f"mine.bitext: {side} has no column {c!r}")
    k = int(config.get("k", 4))
    if k < 1:
        raise ConfigError("mine.bitext: k must be >= 1")
    threshold = float(config.get("threshold", 0.0))
    mutual = bool(config.get("mutual", True))

    def prep(df: DataFrame, prefix: str) -> DataFrame:
        cols = [
            F.col(id_column).alias(f"{prefix}id"),
            F.col(column).alias(f"{prefix}v"),
            norm_expr(F.col(column)).alias(f"{prefix}n"),
        ]
        if bucket:
            cols.append(F.col(bucket).alias(f"{prefix}b"))
        return df.select(*cols).filter(valid_norm(F.col(f"{prefix}n")))

    s = prep(src, "__s")
    t = prep(tgt, "__t")
    if bucket:
        pairs = s.join(t, F.col("__sb") == F.col("__tb"))
    else:
        pairs = s.crossJoin(F.broadcast(t))

    cos = F.round(
        pair_cosine(F.col("__sv"), F.col("__tv"),
                    F.col("__sn"), F.col("__tn")), 6,
    )
    scored = pairs.select(
        "__sid", "__tid", cos.alias("__cos")
    )
    if bool(config.get("dedup_pairs", False)):
        # exploded-band buckets emit one row per shared bucket; the
        # cosine is identical on every copy, so any-row dedup is
        # deterministic. Costs one extra shuffle — opt-in.
        scored = scored.dropDuplicates(["__sid", "__tid"])
    # The candidate-cosine table feeds THREE consumers (both top-k
    # neighborhood means and the margin join) — without persist each
    # re-runs the bucket join and the per-pair cosine fold, the op's
    # dominant cost (r13 measurement: 24 parquet scans in the q128
    # plan). Rows are skinny (two ids + one double); MEMORY_AND_DISK
    # spills rather than OOMs at candidate-stream scale.
    scored = ctx.persist(scored)

    def topk_mean(part_col: str, other_col: str, out: str) -> DataFrame:
        w = Window.partitionBy(part_col).orderBy(
            F.col("__cos").desc(), F.col(other_col)
        )
        ranked = scored.withColumn("__r", F.row_number().over(w)) \
            .filter(F.col("__r") <= k)
        return (
            ranked.groupBy(part_col)
            .agg(
                F.collect_list(
                    F.struct(F.col("__r").alias("k"),
                             F.col("__cos").alias("v"))
                ).alias("__cs"),
                F.count(F.lit(1)).alias("__n"),
            )
            .select(
                part_col,
                (F.aggregate(
                    F.array_sort(F.col("__cs")), F.lit(0.0),
                    lambda acc, x: acc + x["v"],
                ) / F.col("__n").cast("double")).alias(out),
            )
        )

    sa = topk_mean("__sid", "__tid", "__sa")
    ta = topk_mean("__tid", "__sid", "__ta")
    # A non-positive denominator means the pair has no meaningful
    # neighborhood (all-orthogonal / negative buckets) — margin is
    # NULL, which fails the threshold filter and sorts last in the
    # argmax, instead of an ANSI DIVIDE_BY_ZERO crash or a
    # sign-flipped score outranking real matches.
    denom = (F.col("__sa") + F.col("__ta")) * F.lit(0.5)
    margin = F.when(
        denom > F.lit(0.0), F.round(F.col("__cos") / denom, 9)
    )
    with_margin = (
        scored.join(sa, "__sid").join(ta, "__tid")
        .select("__sid", "__tid", "__cos", margin.alias("__m"))
    )
    # Both direction ranks as CHAINED windows over the ONE unfiltered
    # margin table, then filter — semantically identical to the old
    # rank-each-side-then-self-join (both ranks were computed over
    # the full pair set there too, filters applied after), but the
    # margin table evaluates once instead of twice and the pair
    # equi-self-join disappears (r13; one shuffle per direction is
    # the floor either way).
    ws = Window.partitionBy("__sid").orderBy(
        F.col("__m").desc(), F.col("__tid")
    )
    best = with_margin.withColumn("__rs", F.row_number().over(ws))
    if mutual:
        wt = Window.partitionBy("__tid").orderBy(
            F.col("__m").desc(), F.col("__sid")
        )
        best = best.withColumn("__rt", F.row_number().over(wt)) \
            .filter(F.col("__rt") == 1).drop("__rt")
    best = best.filter(
        (F.col("__rs") == 1) & (F.col("__m") >= threshold)
    ).drop("__rs")
    return best.select(
        F.col("__sid").alias(f"src_{id_column}"),
        F.col("__tid").alias(f"tgt_{id_column}"),
        F.col("__cos").alias("cosine"),
        F.col("__m").alias("margin"),
    )
