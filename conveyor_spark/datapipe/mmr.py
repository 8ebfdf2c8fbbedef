"""Maximal Marginal Relevance selection (Carbonell-Goldstein): pick a
small, HIGH-RELEVANCE but MUTUALLY-DIVERSE subset of a scored,
embedded candidate pool.

The data-curation use: after a relevance pass (rank.bm25 score,
classifier logit, cosine to a target-domain centroid), plain top-k
returns near-duplicates of the single best item; MMR trades relevance
against redundancy — round r selects

    argmax_c  lambda * rel(c) - (1 - lambda) * max_{s in selected} cos(c, s)

so each pick is penalized by its similarity to what's already chosen
(the SemDeDup intuition applied at selection time instead of corpus
time). lambda=1 degenerates to top-k by relevance; lambda=0 to a
farthest-point traversal.

Scale: k is small by definition (a selection, not a ranking), so this
sits in the engine's iterative-literal family (embedding.kmeans,
graph.pagerank): each round is ONE codegen aggregate over the
candidate frame — the selected vectors ride as literal arrays, the
argmax is a single min(struct(-score, id, vec)) with no window, no
join, no shuffle beyond the aggregate's tree reduction. k rounds = k
passes; the candidate frame is cached for the duration of the solve.
Driver collects exactly one row per round.

Determinism: per-pair cosines round to 6 (the knn/q132 policy), the
MMR objective to 9; argmax ties break on lowest id. The entire greedy
unrolls into DuckDB CTEs (q139).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.clustering import _infer_dim
from conveyor_spark.datapipe.similarity import dot_expr, norm_expr, valid_norm

_MAX_K = 64  # each selection is a full candidate pass — keep k a selection


@register(
    "rank.mmr", kind="transform",
    doc="Maximal-marginal-relevance selection: relevant but diverse top-k",
    params=[
        P("id_column", required=True, desc="Candidate id column"),
        P("column", default="embedding", desc="array<float|double> column"),
        P("relevance_column", required=True,
          desc="Precomputed relevance score (double)"),
        P("k", "integer", default=10, min=1, max=_MAX_K,
          desc="Items to select (each costs one pass over candidates)"),
        P("lam", "float", default=0.5,
          desc="Relevance weight: 1 = plain top-k, 0 = pure diversity"),
        P("dim", "integer", min=1,
          desc="Vector dimensionality (default: inferred from data)"),
    ],
    example={"id_column": "id", "column": "embedding",
             "relevance_column": "score", "k": 2},
    tags=["embedding", "ranking", "diversity", "selection", "datapipe"],
)
def rank_mmr(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Output: the k selected rows as (id, rank, relevance, mmr) with
    ``rank`` the 1-based selection order and ``mmr`` the objective
    value at selection time (rank 1's mmr is its pure relevance).
    Candidates with NULL/ragged/zero-norm vectors or NULL relevance
    are excluded (cosine is undefined for them); if fewer than k
    valid candidates exist, all are returned."""
    df = inputs[0]
    id_column = config.get("id_column")
    rel_column = config.get("relevance_column")
    column = config.get("column", "embedding")
    for c in (id_column, rel_column, column):
        if c not in df.columns:
            raise ConfigError(f"rank.mmr: no column {c!r}")
    k = int(config.get("k", 10))
    if not 1 <= k <= _MAX_K:
        raise ConfigError(f"rank.mmr: k must be in [1, {_MAX_K}]")
    lam = float(config.get("lam", 0.5))
    if not 0.0 <= lam <= 1.0:
        raise ConfigError("rank.mmr: lam must be in [0, 1]")

    spark = df.sparkSession
    # mixed-dimension pools: a cosine between different-length arrays
    # is NULL (zip_with pads), and a NULL score would win the
    # min(struct) argmax — pin a dim (param or inferred) and keep
    # only matching vectors, like the knn/kmeans ops
    pool = df.filter(F.col(id_column).isNotNull())
    dim = config.get("dim")
    if dim is None:
        try:
            dim = _infer_dim(pool, id_column, column, "rank.mmr")
        except ConfigError:
            dim = 0  # no non-null vectors: empty selection below
    dim = int(dim)
    vec = F.transform(F.col(column), lambda x: x.cast("double"))
    cleaned = (
        pool.filter(F.size(column) == dim)
        .select(
            F.col(id_column).alias("__id"),
            F.col(rel_column).cast("double").alias("__rel"),
            vec.alias("__v"),
            norm_expr(F.col(column)).alias("__n"),
        )
        .filter(F.col("__rel").isNotNull() & ~F.isnan(F.col("__rel")))
        .filter(valid_norm(F.col("__n")))
        .persist()
    )
    try:
        selected: list[tuple] = []  # (id, rank, rel, mmr, vector, norm)
        for r in range(1, k + 1):
            if dim == 0:
                break
            cand = cleaned
            if selected:
                cand = cand.filter(
                    ~F.col("__id").isin([s[0] for s in selected])
                )
                # each selected vector embeds as ONE parsed SQL array
                # — the per-element F.lit form cost ~dim py4j
                # round-trips per selected vector per round (the q126
                # builder lesson)
                from conveyor_spark.datapipe.clustering import (
                    _lit_double_array,
                )

                sims = [
                    F.round(
                        dot_expr(F.col("__v"), _lit_double_array(s[4]))
                        / (F.col("__n") * F.lit(s[5])),
                        6,
                    )
                    for s in selected
                ]
                maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
                score = F.round(
                    F.lit(lam) * F.col("__rel") - F.lit(1.0 - lam) * maxsim, 9
                ) + F.lit(0.0)
            else:
                score = F.round(F.col("__rel"), 9) + F.lit(0.0)
            row = cand.select(
                F.min(F.struct(
                    (-score).alias("ns"), F.col("__id").alias("i"),
                    F.col("__rel").alias("rel"), F.col("__v").alias("v"),
                    F.col("__n").alias("n"),
                )).alias("b")
            ).first()
            if row is None or row["b"] is None or row["b"]["i"] is None:
                break  # pool exhausted before k
            b = row["b"]
            selected.append(
                (b["i"], r, b["rel"], -b["ns"] + 0.0, b["v"], b["n"])
            )
    finally:
        cleaned.unpersist()

    id_field = df.schema[id_column].dataType
    out_rows = [(s[0], s[1], s[2], s[3]) for s in selected]
    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType,
    )
    schema = StructType([
        StructField(id_column, id_field),
        StructField("rank", IntegerType()),
        StructField("relevance", DoubleType()),
        StructField("mmr", DoubleType()),
    ])
    return spark.createDataFrame(out_rows, schema)
