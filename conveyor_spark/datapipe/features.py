"""Feature extraction for large-scale text ML: the hashing trick.

``feature.hashing`` — the Weinberger-et-al hashed feature map used by
Vowpal Wabbit and scikit-learn's HashingVectorizer: each token is
assigned a bucket ``portable_hash(token) % dim`` and a sign from an
independent hash bit; per-document features are the signed token
counts per bucket. No vocabulary pass, no fitted state, a fixed
output dimensionality — the only vectorizer that works on a corpus
too large to enumerate, and the standard front-end for linear
classifiers / kNN over text at scale.

Scale design: pure per-row JVM expressions — md5-hash each token,
fold signed counts per distinct bucket (O(unique_buckets x tokens)
per row, all inside codegen'd higher-order functions), emit a sparse
(indices, values) pair. ZERO shuffle — contrast with the
explode -> groupBy(doc, bucket) -> collect_list formulation, which
shuffles every token row; at 100 TB that's the difference between a
map-only pass and the largest shuffle in the pipeline. Exact zero
values from sign cancellation are dropped (HashingVectorizer
semantics). Dense output materializes dim doubles per row and is
capped; sparse is the scale path.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.dedup import tokens_expr, widen
from conveyor_spark.datapipe.hashing import md5_int

_DENSE_DIM_CAP = 8192
# bit of the 60-bit md5 integer used for the +-1 sign; independent of
# the low bits that pick the bucket for any dim < 2^40
_SIGN_BIT = 40


@register(
    "feature.hashing", kind="transform",
    doc="Hashing-trick text vectorizer (signed token counts)",
    params=[
        P("column", required=True, desc="Text column"),
        P("dim", "integer", default=1024, min=1,
          desc="Feature dimensionality (buckets)"),
        P("signed", "boolean", default=True,
          desc="+-1 sign per token from an independent hash bit "
               "(unbiases collisions); False = plain counts"),
        P("output", default="sparse", allowed=("sparse", "dense"),
          desc="sparse = indices+values arrays; dense = one "
               f"array<double> of length dim (dim <= {_DENSE_DIM_CAP})"),
        P("indices_column", default="indices", desc="Sparse indices column"),
        P("values_column", default="values", desc="Sparse values column"),
        P("features_column", default="features", desc="Dense output column"),
        P("widen", "any", default="auto",
          desc="Repartition narrow scans (False/int/auto)"),
    ],
    example={"column": "text", "dim": 64, "output": "sparse"},
    tags=["text", "features", "ml", "datapipe"],
)
def feature_hashing(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Sparse output: ``indices`` (array<int>, ascending buckets) and
    ``values`` (array<double>, aligned signed counts, exact zeros
    dropped). Dense output: ``features`` array<double> of length
    ``dim``. NULL text -> NULL outputs.

    Determinism: bucket = md5-60bit(token) % dim and sign = bit 40 of
    the same hash — both integer arithmetic on the portable hash, so
    any engine replays them bit-for-bit (q131's oracle does, via the
    relational explode/groupBy formulation)."""
    df = inputs[0]
    column = config.get("column")
    if column not in df.columns:
        raise ConfigError(f"feature.hashing: no column {column!r}")
    dim = int(config.get("dim", 1024))
    if dim < 1:
        raise ConfigError("feature.hashing: dim must be >= 1")
    signed = bool(config.get("signed", True))
    output = config.get("output", "sparse")
    if output == "dense" and dim > _DENSE_DIM_CAP:
        raise ConfigError(
            f"feature.hashing: dense output capped at dim {_DENSE_DIM_CAP} "
            f"(got {dim}) — use sparse for wide feature spaces")
    idx_col = config.get("indices_column", "indices")
    val_col = config.get("values_column", "values")
    feat_col = config.get("features_column", "features")
    out_cols = [idx_col, val_col] if output == "sparse" else [feat_col]
    clash = sorted(set(out_cols) & set(df.columns))
    if clash:
        raise ConfigError(
            f"feature.hashing would overwrite existing columns {clash}; "
            "set indices_column/values_column/features_column")

    df = widen(ctx, df, config)
    toks = tokens_expr(column, distinct=False, lowercase=True)
    # materialize the per-token (bucket, sign) pairs once as a named
    # column — NOTES playbook #7: HOF subtrees referenced repeatedly
    # must be bound, or they re-evaluate per reference
    hs = F.transform(toks, lambda t: md5_int(t))
    bucket = lambda h: F.pmod(h, F.lit(dim)).cast("int")
    if signed:
        sign = lambda h: (
            F.shiftright(h, _SIGN_BIT).bitwiseAND(F.lit(1)) * 2 - 1
        ).cast("long")
    else:
        sign = lambda h: F.lit(1).cast("long")
    pairs = F.transform(
        hs, lambda h: F.struct(bucket(h).alias("b"), sign(h).alias("s"))
    )
    df = df.withColumn("__fh_pairs", pairs)
    p = F.col("__fh_pairs")
    idx = F.array_sort(F.array_distinct(
        F.transform(p, lambda x: x["b"])
    ))
    # signed count per distinct bucket: one fold per bucket over the
    # skinny (b, s) structs
    vals_at = lambda i: F.aggregate(
        p, F.lit(0).cast("long"),
        lambda acc, x: acc + F.when(x["b"] == i, x["s"]).otherwise(0),
    )
    zipped = F.filter(
        F.transform(idx, lambda i: F.struct(
            i.alias("i"), vals_at(i).cast("double").alias("v"))),
        lambda e: e["v"] != 0.0,
    )
    df = df.withColumn("__fh_z", zipped)
    z = F.col("__fh_z")
    if output == "sparse":
        out = (
            df.withColumn(idx_col, F.transform(z, lambda e: e["i"]))
            .withColumn(val_col, F.transform(z, lambda e: e["v"]))
        )
    else:
        m = F.map_from_arrays(
            F.transform(z, lambda e: e["i"]),
            F.transform(z, lambda e: e["v"]),
        )
        df = df.withColumn("__fh_m", m)
        out = df.withColumn(
            feat_col,
            F.when(
                F.col(column).isNotNull(),
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    # try_element_at: ANSI element_at raises on a
                    # missing map key, and most buckets are missing
                    lambda i: F.coalesce(
                        F.try_element_at(F.col("__fh_m"), i),
                        F.lit(0.0)),
                ),
            ),
        ).drop("__fh_m")
    return out.drop("__fh_pairs", "__fh_z")
