"""Deterministic distributed PCA over embedding columns.

The whitening / decorrelation / compression stage of an embedding
pipeline (dimensionality reduction before clustering or ANN, variance
diagnostics of an encoder's output). Classic distributed PCA: one
pass computes the Gram moments, the tiny dim x dim covariance
eigenproblem solves on the driver, and projection is a codegen
expression — the same shape as Spark MLlib's PCA.

Determinism (the oracle contract, clustering.py's recipe extended):

- Moments: each component floor-quantizes to an integer (x ->
  floor(x * 2^20)); one Q^T Q matmul per Arrow batch sums the pair
  products exactly (int64, or Python ints for a batch whose
  magnitudes would overflow int64), and the batch totals add as
  DECIMAL(38,0) — EXACT in any partition order.
- Covariance: one fixed double formula over the exact moments —
  identical IEEE ops everywhere.
- Eigenvectors: FIXED-count power iteration with deflation, from the
  all-ones start vector; every matvec/norm folds in ascending index
  order. Python floats on the driver and an unrolled SQL replay
  (q127) produce bit-identical vectors.
- Projection: per-row fold over dims of (x_i - mean_i) * v_i,
  ascending — codegen, zero shuffle.

MLlib's PCA (breeze SVD over a double-summed Gram) is none of these:
its loadings move with partitioning. Ours replay exactly.

Domain: |x| < 2^43 (the quantized value must fit int64). A batch
with |x| >= 2048 sums in exact Python ints instead of int64 — same
result, slower; embeddings are unit-ish by construction. Fixed
iterations mean eigenvector CONVERGENCE depends on
spectral gaps — the output is a deterministic function of the data
either way, which is what a frozen pipeline needs; raise
``iterations`` for closely-spaced eigenvalues.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.clustering import _infer_dim

_Q = 1048576.0        # 2^20 component quantization
_Q2 = _Q * _Q


def power_iteration(cov: list[list[float]], iterations: int):
    """Driver-side dominant eigenpair by fixed-count power iteration
    from the all-ones vector; every sum folds in ascending index
    order so the SQL oracle replays it bit-for-bit. Returns
    (eigenvalue, eigenvector)."""
    dim = len(cov)
    v = [1.0] * dim
    nm = 0.0
    for _ in range(iterations):
        w = []
        for i in range(dim):
            acc = 0.0
            for j in range(dim):
                acc = acc + cov[i][j] * v[j]
            w.append(acc)
        acc = 0.0
        for i in range(dim):
            acc = acc + w[i] * w[i]
        # math.sqrt, NOT ** 0.5: pow(x, 0.5) is not guaranteed to
        # round like IEEE sqrt, and the oracle replays sqrt()
        nm = math.sqrt(acc)
        if nm == 0.0:
            return 0.0, v  # zero matrix: anything is an eigenvector
        v = [x / nm for x in w]
    return nm, v


@register(
    "embedding.pca", kind="transform",
    doc="Exact-replay PCA: project embeddings onto top components",
    params=[
        P("id_column", required=True, desc="Vector id column"),
        P("column", default="embedding", desc="array<float|double> column"),
        P("components", "integer", default=2, min=1,
          desc="Top principal components to extract"),
        P("iterations", "integer", default=12, min=1,
          desc="Power iterations per component (fixed count)"),
        P("dim", "integer", min=1, desc="Dimensionality (default inferred)"),
        P("output", default="project", allowed=("project", "components"),
          desc="project: input + score columns; components: r rows"),
        P("prefix", default="pc", desc="Score column prefix (pc1, pc2...)"),
        P("whiten", "boolean", default=False,
          desc="Scale each score by 1/sqrt(eigenvalue) (unit variance)"),
        P("moments", default="gemm", allowed=("gemm", "entries"),
          desc="Retired: both values run the one exact Q^T Q "
               "matmul per Arrow batch with identical output"),
    ],
    example={"id_column": "doc_id", "column": "embedding",
             "components": 2, "iterations": 4},
    tags=["embedding", "pca", "compression", "datapipe"],
)
def embedding_pca(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """See module docstring. ``output="project"`` (default) returns
    the input plus ``pc1..pcR`` doubles (round 9; NULL for rows with
    NULL/mis-sized/NULL-holding vectors); ``output="components"``
    returns r rows (component, eigenvalue, vector array<double>,
    mean array<double>).

    Scale: ONE pass computes all dim*(dim+1)/2 + dim + 1 moments:
    one exact Q^T Q matmul per Arrow batch via mapInPandas — ~dim^2
    partial rows per batch shuffle. The dim x dim eigenproblem is
    driver-side arithmetic; projection is a per-row codegen fold.
    ``moments`` is retired: "gemm" and "entries" both run this
    engine."""
    df = inputs[0]
    id_column = config.get("id_column")
    if not id_column:
        raise ConfigError("embedding.pca requires 'id_column'")
    column = config.get("column", "embedding")
    for c in (id_column, column):
        if c not in df.columns:
            raise ConfigError(f"embedding.pca: no column {c!r}")
    r = int(config.get("components", 2))
    iterations = int(config.get("iterations", 12))
    if r < 1 or iterations < 1:
        raise ConfigError(
            "embedding.pca: components and iterations must be >= 1"
        )
    output = config.get("output", "project")
    if output not in ("project", "components"):
        raise ConfigError("embedding.pca: output must be project|components")
    if config.get("moments", "gemm") not in ("gemm", "entries"):
        raise ConfigError("embedding.pca: moments must be gemm|entries")
    prefix = config.get("prefix", "pc")

    vec = F.col(column)
    dim = config.get("dim")
    if dim is None:
        dim = _infer_dim(df, id_column, column, "embedding.pca")
    dim = int(dim)
    if r > dim:
        raise ConfigError(f"embedding.pca: components={r} > dim={dim}")

    # ONE validity predicate — the SAME vec_ok the whole centroid
    # family uses (review r10: an inline copy here had already
    # drifted once, missing Inf while clustering gained the NaN
    # check). Non-finite elements are invalid like NULLs: quantized,
    # they would poison every covariance moment.
    from conveyor_spark.datapipe.clustering import vec_ok

    ok = vec_ok(vec, dim)
    clean = df.filter(ok)

    # Exact integer sums via one Q^T Q per Arrow batch: quantization
    # is floor(double * 2^20) (identical IEEE multiply + floor to the
    # oracle's), the per-batch products/sums are exact, and
    # cross-batch totals sum as decimal(38,0) in the groupBy. A
    # per-row skinny-entry explode computes the same sums from 2145
    # interpreted-HOF structs per row (measured ~5 s of the q127
    # bench at sf0.1); the matmul is ~30 ms per batch.
    import decimal as _dec

    _qf = float(_Q)
    _dimf = dim

    def batch_moments(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            q = np.floor(
                np.stack(pdf.iloc[:, 0].to_numpy()).astype(np.float64) * _qf
            )
            mq = float(np.abs(q).max())
            # Non-finite values cannot reach here (the shared `ok`
            # predicate excludes NULL/NaN elements, and inf trips the
            # >= compare) — the isfinite check is a belt-and-suspenders
            # trap because np.int64(NaN) is PLATFORM GARBAGE. Past
            # 2^63 the quantized value is not an int64 (Spark's floor
            # would saturate it): refuse loudly.
            if not np.isfinite(q).all() or mq >= 2.0**63:
                raise ValueError(
                    "embedding.pca: non-finite or too-large value "
                    "(quantized >= 2^63, |x| >= 2^43); rescale first"
                )
            if mq >= 2.0**31:
                # a SINGLE int64 product could wrap silently: this
                # batch sums in exact Python ints, one chunk
                qi = np.frompyfunc(int, 1, 1)(q)
                step = len(qi)
            else:
                # int64: chunked so rows_per_chunk * max|q|^2 stays
                # under 2^62 — no silent wraparound
                qi = q.astype(np.int64)
                mx = max(1, int(mq))
                step = max(1, min(len(qi), (2**62) // (mx * mx)))
            gram = np.zeros((_dimf, _dimf), dtype=object)
            firsts = np.zeros(_dimf, dtype=object)
            for lo in range(0, len(qi), step):
                ch = qi[lo:lo + step]
                gram += ch.T @ ch
                firsts += ch.sum(axis=0, dtype=ch.dtype)
            iu, ju = np.triu_indices(_dimf)
            rows = {
                "i": [int(x) for x in iu] + list(range(_dimf)) + [-1],
                "j": [int(x) for x in ju] + [-1] * _dimf + [-1],
                "val": [_dec.Decimal(int(gram[a][b])) for a, b in zip(iu, ju)]
                + [_dec.Decimal(int(x)) for x in firsts]
                + [_dec.Decimal(len(qi))],
            }
            yield pd.DataFrame(rows)

    entry_df = clean.select(vec.alias("__v")).mapInPandas(
        batch_moments, "i int, j int, val decimal(38,0)"
    )
    moments = (
        entry_df.groupBy("i", "j")
        .agg(F.sum("val").alias("v"))
        .collect()
    )
    by_key = {(r["i"], r["j"]): r["v"] for r in moments}
    if not by_key:
        raise ConfigError("embedding.pca: no usable vectors")
    n = int(by_key[(-1, -1)])

    s = [float(by_key[(i, -1)]) for i in range(dim)]
    mean = [s_i / (n * _Q) for s_i in s]
    cov = [[0.0] * dim for _ in range(dim)]
    for i in range(dim):
        for j in range(i, dim):
            p = float(by_key[(i, j)])
            # ONE formula, mirrored verbatim in the oracle SQL
            c = (p - s[i] * s[j] / n) / (n * _Q2)
            cov[i][j] = c
            cov[j][i] = c

    comps: list[tuple[float, list[float]]] = []
    for _ in range(r):
        lam, v = power_iteration(cov, iterations)
        comps.append((lam, v))
        # deflate: C <- C - lam * v v^T (left-assoc products, as SQL)
        for i in range(dim):
            for j in range(dim):
                cov[i][j] = cov[i][j] - lam * v[i] * v[j]

    if output == "components":
        return ctx.spark.createDataFrame(
            [(k + 1, comps[k][0], comps[k][1], mean) for k in range(r)],
            "component INT, eigenvalue DOUBLE, vector ARRAY<DOUBLE>, "
            "mean ARRAY<DOUBLE>",
        )

    from conveyor_spark.datapipe.clustering import _lit_double_array

    whiten = bool(config.get("whiten", False))
    centered = F.zip_with(
        vec, _lit_double_array(mean), lambda x, mc: x.cast("double") - mc
    )
    proj_cols = []
    for k, (lam, v) in enumerate(comps):
        v_arr = _lit_double_array(v)
        score = F.aggregate(
            F.zip_with(centered, v_arr, lambda c, vv: c * vv),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if whiten:
            if lam <= 0:
                raise ConfigError(
                    f"embedding.pca: whiten=true but component "
                    f"{k + 1} has eigenvalue {lam} <= 0 (no variance "
                    "to normalize away)"
                )
            score = score / F.lit(math.sqrt(lam))
        proj_cols.append(
            F.when(ok, F.round(score, 9)).alias(f"{prefix}{k + 1}")
        )
    return df.select("*", *proj_cols)
