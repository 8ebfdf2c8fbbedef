"""embedding.lsh — random-hyperplane (SimHash-for-vectors) signatures.

The scale path for embedding similarity: each vector gets a b-bit
signature, bit j = sign(<v, r_j>) with r_j a deterministic Rademacher
(+1/-1) vector derived from md5 parity of "plane:dim" — reproducible
across engines/runs with no RNG state. The sign vectors are computed
ON THE DRIVER and shipped inside one scalar Arrow UDF (bits x dim
signs), so the per-row work is b sequential dot products over the
embedding in numpy — no shuffle, and bit-identical to the SQL fold the
oracle replays (signature_udf).

P[bit_j(a) = bit_j(b)] = 1 - angle(a,b)/pi: Hamming-close signatures
<=> cosine-close vectors. Group by the signature (or bit-bands) for
candidate buckets; verify with exact cosine (dedup.embedding / knn).
"""

from __future__ import annotations

import hashlib
from typing import Any

import pyarrow as pa  # module-level so arrow_udf type hints resolve
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


def rademacher_sign(plane: int, dim: int) -> float:
    """Deterministic +1/-1: parity of the last md5 hex nibble of
    "plane:dim" (mirror in SQL: ('0x'||substr(md5(...),32,1))::INT%2)."""
    nibble = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[31], 16)
    return 1.0 if nibble % 2 == 0 else -1.0


def sign_matrix(bits: int, dim: int) -> list[list[float]]:
    return [[rademacher_sign(j, i) for i in range(dim)] for j in range(bits)]


def signature_udf(bits: int, dim: int):
    """The one b-bit hyperplane signature engine (embedding.lsh's
    output, knn.lsh's band buckets): a scalar Arrow UDF mapping a
    vector column to its bigint signature. Only the vector column
    crosses into Python; Spark re-attaches the result in the JVM.

    Bit-exact with the SQL fold the DuckDB oracle replays (per plane,
    ``aggregate(zip_with(v, p, (x, s) -> CAST(x AS DOUBLE) * s), 0.0D,
    (a, v) -> a + v)``, then the sum of ``CAST(dot > 0 AS BIGINT) *
    2^j``):
    - each dot accumulates over the dims LEFT TO RIGHT from 0.0, one
      (bits x N) add per dim — a matmul or np.sum would reorder the
      adds and flip the sign of a dot that cancels to ~0;
    - a NaN dot sets its bit: Spark orders NaN above every number;
    - a NULL vector, a length other than ``dim`` or any NULL element
      gives a NULL signature (zip_with pads / propagates the NULL).
    The Arrow input keeps the null bitmaps and offsets, so a NULL
    element is told apart from NaN in one vectorized pass."""
    import numpy as np
    from pyspark.sql.functions import arrow_udf

    planes = np.array(sign_matrix(bits, dim), dtype=np.float64)
    weights = np.left_shift(np.int64(1), np.arange(bits, dtype=np.int64))

    @arrow_udf("bigint")
    def signature(vecs: pa.Array) -> pa.Array:
        offsets = vecs.offsets.to_numpy()
        rows = np.flatnonzero(
            ((offsets[1:] - offsets[:-1]) == dim)
            & ~vecs.is_null().to_numpy(zero_copy_only=False))
        values = vecs.values
        # (dim, rows) gathers; offsets index the unsliced child array.
        # The index is rebuilt after the NULL-element cut, not masked:
        # a masked index gathers x in column order, and the per-dim
        # rows below would stride through memory (~7x slower)
        span = np.arange(dim)[:, None]
        nulls = values.is_null().to_numpy(zero_copy_only=False)
        rows = rows[~nulls[offsets[rows] + span].any(axis=0)]
        x = values.cast(pa.float64()).to_numpy(
            zero_copy_only=False)[offsets[rows] + span]
        dots = np.zeros((bits, len(rows)), dtype=np.float64)
        with np.errstate(invalid="ignore"):  # inf - inf is a NaN dot
            for i in range(dim):  # sequential over dims = the fold
                dots += planes[:, i, None] * x[i]
        sig = np.zeros(len(vecs), dtype=np.int64)
        sig[rows] = weights @ ((dots > 0.0) | np.isnan(dots))
        valid = np.zeros(len(vecs), dtype=bool)
        valid[rows] = True
        return pa.array(sig, type=pa.int64(), mask=~valid)

    # deterministic, but the flag keeps the optimizer from copying the
    # UDF into a consumer's pushed-down filter (knn.lsh drops NULL
    # signatures) — clustering.pq_encoder's reason
    return signature.asNondeterministic()


@register(
    "embedding.lsh", kind="transform",
    doc="Random-hyperplane LSH signature for vectors",
    params=[
        P("column", default="embedding", desc="Vector column (array<float>)"),
        P("output_column", default="lsh_sig", desc="Signature column"),
        P("bits", "integer", default=16, min=1, max=63, desc="Hyperplanes (sig bits)"),
        P("dim", "integer", min=1,
          desc="Vector dimensionality — pass it to keep the plan job-free"),
        P("infer_dim", "boolean", default=False,
          desc="Opt in to a one-row job that infers dim"),
    ],
    example={"column": "embedding", "bits": 16, "dim": 64},
    tags=["embedding", "lsh", "datapipe"],
)
def embedding_lsh(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    column = config.get("column", "embedding")
    bits = int(config.get("bits", 16))
    output_column = config.get("output_column", "lsh_sig")
    dim = config.get("dim")
    if dim is None:
        if not config.get("infer_dim"):
            raise ConfigError(
                "embedding.lsh requires 'dim' (the embedding length). Inferring it "
                "runs a Spark job at plan-build time; opt in with infer_dim=true."
            )
        first = df.select(F.size(F.col(column)).alias("d")).first()
        if first is None:
            return df.withColumn(output_column, F.lit(None).cast("bigint"))
        dim = first["d"]
    dim = int(dim)

    from conveyor_spark.datapipe.dedup import widen

    df = widen(ctx, df, config)
    return df.withColumn(
        output_column, signature_udf(bits, dim)(F.col(f"`{column}`")))
