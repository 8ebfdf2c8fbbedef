"""Distributed k-means and product quantization over embedding
columns (Lloyd's algorithm).

The clustering stage of an embedding pipeline: trains the coarse
quantizer whose assignments feed ``knn.ivf`` (its ``bucket_column``),
drives ``dedup.embedding``-style partitioning, and answers "what's in
this corpus" topic analysis; the PQ ops compress vectors for ADC
search (``knn.pq``, ``knn.ivfpq``).

One trainer, ``_train_pq``: k-means is product quantization with one
dim-wide subspace (m=1), so every op here trains through the same
Lloyd loop, once per build for any one training (ctx.memo).

Spark-first design (the MLlib KMeans shape, re-expressed on the
DataFrame API): codebooks are a driver-side list of k x dim doubles —
k is small by definition — embedded as literals into a pure-codegen
assignment expression, so each Lloyd update is ONE distributed
pass: per-row argmin (zero shuffle) + one groupBy(subspace, cluster,
dim) aggregate (the only shuffle, k x dim result rows collected
back). Nothing quadratic, no Python in the row path.

Determinism (the oracle contract): a centroid is a MEAN of doubles —
a partition-order SUM would move the result between runs. Instead
each component is floor-quantized to 1/2^20 and summed as int64:
exact in any order, in any engine. The mean (int / exact double
product) and the per-row distance folds (left-to-right zip_with)
are then bit-identical everywhere, so cluster assignments replay
exactly — including in the DuckDB oracle, which unrolls the same
iterations in SQL. The 2^-20 quantization (~1e-6 per component per
iteration) is far below any embedding's noise floor; ties in argmin
break to the lowest cluster index.

Init is the first k vectors by id: reproducible by construction
(kmeans++ would need a seeded RNG shared with the oracle; a frozen
training pipeline wants the pure function of the data anyway).
"""

from __future__ import annotations

from typing import Any

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register

_Q = 1048576.0  # 2^20: component quantization for exact int64 sums
# the projection every codebook consumer collects (and embedding.pq
# output='codebooks' registers in ctx.memo)
_CODEBOOK_COLS = ("subspace", "code", "centroid")


def _infer_dim(df: DataFrame, id_column: str, column: str, op: str) -> int:
    """Dimensionality = size of the vector with the SMALLEST id — an
    unordered first() would be partition-order dependent, and on a
    mixed-length corpus (exactly what the size==dim filter guards)
    that would flip which rows survive cleaning between runs.

    Zero-length vectors are ignored: a single empty array (a failed
    encode) holding the minimum id would otherwise infer dim=0 and
    silently empty the consumer's whole candidate set (review-caught
    in rank.mmr; the same hazard existed for kmeans/pq)."""
    row = (
        df.filter(F.col(column).isNotNull() & (F.size(column) > 0))
        .select(F.min(F.struct(
            F.col(id_column).alias("i"), F.size(column).alias("s")
        ))["s"].alias("s"))  # only the size: any id type stays in the JVM
        .first()
    )
    if row is None or row["s"] is None:
        raise ConfigError(f"{op}: no non-null vectors")
    return int(row["s"])


def vec_ok(vec, dim: int):
    """The vector-validity predicate shared by every centroid/
    codebook op (and embedding.pca): non-NULL, exactly ``dim``
    elements, and no NULL / NaN / +-Inf element. Non-finite values
    are invalid like NULL (review r10, two rounds of findings): a
    NaN coordinate makes every distance NaN yet the row still lands
    in SOME cluster under Spark's NaN-is-largest ordering, and an
    Inf coordinate turns centroid means/covariance moments infinite
    — both silently bias the statistics, and engines disagree on
    non-finite semantics so no oracle can replay them."""
    inf = F.lit(float("inf"))
    return (
        vec.isNotNull() & (F.size(vec) == dim)
        & ~F.exists(
            vec,
            lambda x: x.isNull() | F.isnan(x.cast("double"))
            | (F.abs(x.cast("double")) == inf),
        )
    )


def _lit_double_array(values: list[float]):
    """A literal array<double> as ONE parsed SQL expression —
    CAST('<repr>' AS DOUBLE) round-trips each float exactly. The
    per-element F.lit form costs one py4j round-trip per element;
    centroid/codebook/component builders compose k*dim of these
    (measured seconds of pure driver time — the q126 lesson)."""
    return F.expr("array(" + ", ".join(
        f"CAST('{float(x)!r}' AS DOUBLE)" for x in values) + ")")


@register(
    "embedding.kmeans", kind="transform",
    doc="k-means clustering over an embedding column (Lloyd's)",
    params=[
        P("id_column", required=True, desc="Vector id column"),
        P("column", default="embedding", desc="array<float|double> column"),
        P("k", "integer", required=True, min=1, desc="Number of clusters"),
        P("iterations", "integer", default=5, min=1,
          desc="Lloyd iterations (fixed count: reproducible plans)"),
        P("dim", "integer", min=1,
          desc="Vector dimensionality (default: inferred from data)"),
        P("output", default="assign", allowed=("assign", "centroids"),
          desc="assign: input + cluster column; centroids: k rows"),
        P("output_column", default="cluster", desc="Assignment column"),
    ],
    example={"id_column": "doc_id", "column": "embedding", "k": 2,
             "iterations": 2},
    tags=["embedding", "clustering", "ann", "datapipe"],
)
def embedding_kmeans(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """See module docstring for the design. Config: ``k``,
    ``iterations`` (fixed count — convergence-based stopping would
    make the plan data-dependent), ``output`` = "assign" (default:
    every input row + ``cluster``; rows with NULL/mis-sized/NULL-
    holding vectors get NULL) or "centroids" (k rows: cluster,
    centroid array<double>, size). Empty clusters keep their previous
    centroid (the standard Lloyd fallback).

    Training is ``_train_pq`` with m=1. Assign mode at ``iterations``
    T is the argmin under the centroids after T-1 updates — exactly
    what centroids mode exports at T-1, so embedding.assign_cells
    against that table reproduces this assignment, and the two calls
    in one build train once.

    Scale: per update one codegen'd argmin pass + one (cluster,
    dim)-keyed aggregate whose k x dim output collects to the driver
    — at 1e9 vectors x dim 64 x k 1024 that is 65k result rows, not
    data. Driver-side centroid state is how Spark MLlib's own KMeans
    iterates; the quantized-int64 sums additionally make our
    centroids independent of partitioning, which MLlib's double sums
    are not."""
    df = inputs[0]
    id_column = config.get("id_column")
    if not id_column:
        raise ConfigError("embedding.kmeans requires 'id_column'")
    column = config.get("column", "embedding")
    for c in (id_column, column):
        if c not in df.columns:
            raise ConfigError(f"embedding.kmeans: no column {c!r}")
    k = config.get("k")
    if not k or int(k) < 1:
        raise ConfigError("embedding.kmeans requires 'k' >= 1")
    k = int(k)
    iterations = int(config.get("iterations", 5))
    if iterations < 1:
        raise ConfigError("embedding.kmeans: iterations must be >= 1")
    output = config.get("output", "assign")
    if output not in ("assign", "centroids"):
        raise ConfigError("embedding.kmeans: output must be assign|centroids")
    out_col = config.get("output_column", "cluster")

    # one persisted training frame per (input, projection, dim) per
    # build: the assign+centroids double call and a PQ training over
    # the same input (q163) share it, and its init collect, via ctx.memo
    clean, dim = _clean(ctx, df, id_column, column, config.get("dim"),
                        "embedding.kmeans")
    init = _first_k(ctx, clean, k)
    if len(init) < k:
        raise ConfigError(
            f"embedding.kmeans: k={k} but only {len(init)} usable vectors"
        )
    # assign at T is the argmin under the centroids after T-1 updates
    # (a last update would feed only discarded centroids)
    updates = iterations if output == "centroids" else iterations - 1
    codebooks, sizes, assigned = _train_pq(ctx, clean, dim, 1, k, updates)
    centroids = codebooks[0]

    if output == "centroids":
        out = ctx.spark.createDataFrame(
            [(j, centroids[j], sizes[0][j]) for j in range(k)],
            f"{out_col} INT, centroid ARRAY<DOUBLE>, size LONG",
        )
        # register the driver-side values as this frame's collect, so
        # a same-build consumer (_parse_centroids) skips the round-trip
        ctx.memo(("rows", out, (out_col, "centroid")), lambda: [
            {out_col: j, "centroid": centroids[j]} for j in range(k)])
        return out
    result = assigned.select("__kid", F.col("__c0").alias(out_col))
    return df.join(
        result, df[id_column] == result["__kid"], "left"
    ).drop("__kid")


def _sub_dist_sql(vec_sql: str, start: int, codeword: list[float]) -> str:
    """SQL for the squared L2 between vec[start:start+len(codeword)]
    (0-based start) and a codeword, folded left-to-right — the same
    arithmetic as the original Column-builder form (slice + zip_with
    + aggregate, identical fold order and casts), but built as ONE
    parsed string: the Column form made ~len(codeword) F.lit py4j
    round-trips per codeword, and the PQ ops compose m*k of these —
    measured 3.3 s of pure DRIVER time to build knn.pq's distance
    table and 1.6 s per training assign() at m=4/kw=4/sd=16 (the
    round-6 signature_expr lesson, NOTES playbook: count py4j
    round-trips in expression builders). CAST('<repr>' AS DOUBLE)
    round-trips every float literal exactly."""
    lits = ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in codeword)
    return (
        f"aggregate(zip_with(slice({vec_sql}, {start + 1}, "
        f"{len(codeword)}), array({lits}), "
        "(x, cc) -> (CAST(x AS DOUBLE) - cc) * (CAST(x AS DOUBLE) - cc)), "
        "CAST(0.0 AS DOUBLE), (acc, d) -> acc + d)"
    )


def _nearest_codes(df_in: DataFrame, codebooks: list, sd: int) -> DataFrame:
    """(__kid, __v, __c0..__c{m-1}): each row's nearest codeword per
    subspace. Two-step: distances land in their own projection, argmin
    reads the ATTRIBUTE. One-step argmin inlines the m*k*sd literal
    fold twice (array_position + array_min each embed the dists
    array) — ~150 KB of expression text per assign that Catalyst
    re-analyzes per job and interpreted mode evaluates twice per row.
    CollapseProject will NOT merge the two selects (the dists attr is
    referenced twice and is non-cheap), so the literals stay
    single-copy. The argmin ties to the lowest index; pq_encoder
    reproduces it bit for bit, and the q120/q121/q126/q161/q163
    oracles pin both."""
    m = len(codebooks)
    dists = df_in.selectExpr(
        "__kid", "__v",
        *["array(" + ", ".join(
            _sub_dist_sql("__v", s * sd, cw) for cw in codebooks[s]
          ) + f") AS __d{s}"
          for s in range(m)],
    )
    return dists.selectExpr(
        "__kid", "__v",
        *[f"CAST(array_position(__d{s}, array_min(__d{s})) - 1 "
          f"AS INT) AS __c{s}"
          for s in range(m)],
    )


def _train_pq(ctx: OpContext, clean: DataFrame, dim: int, m: int, k: int,
              updates: int, op: str = "embedding.pq"):
    """The one Lloyd trainer (embedding.kmeans is its m=1 case): the
    module's determinism recipe, ALL m subspaces advanced in one
    distributed pass per update over _clean's frame, once per (clean,
    m, k, updates) per build via ctx.memo. Returns (codebooks[m][k][sd],
    sizes[m][k] — member counts of the last stats pass, zeros with no
    updates — and _nearest_codes(clean) under the final codebooks)."""
    sd = dim // m

    def train() -> tuple[list, list]:
        init = _first_k(ctx, clean, k)
        if len(init) < k:
            raise ConfigError(
                f"{op}: {k} codewords per subspace but only "
                f"{len(init)} usable vectors"
            )
        codebooks = [
            [[float(x) for x in r[0][s * sd:(s + 1) * sd]] for r in init]
            for s in range(m)
        ]
        sizes = [[0] * k for _ in range(m)]
        for _ in range(updates):
            assigned = _nearest_codes(clean, codebooks, sd)
            # one stats pass for ALL subspaces: dim index -> subspace
            cl = F.element_at(
                F.array(*[F.col(f"__c{s}") for s in range(m)]),
                (F.floor(F.col("__d") / F.lit(sd)) + 1).cast("int"),
            )
            stats = (
                assigned.select(
                    *[f"__c{s}" for s in range(m)],
                    F.posexplode("__v").alias("__d", "__x"),
                )
                .select(
                    F.floor(F.col("__d") / F.lit(sd)).cast("int").alias("__s"),
                    cl.alias("__cl"),
                    F.col("__d").alias("__d"),
                    F.col("__x"),
                )
                .groupBy("__s", "__cl", "__d")
                .agg(
                    F.sum(
                        F.floor(F.col("__x").cast("double") * F.lit(_Q))
                    ).alias("__sum"),
                    F.count(F.lit(1)).alias("__n"),
                )
                .collect()
            )
            # an empty codeword keeps its previous value (the standard
            # Lloyd fallback) and size 0
            codebooks = [[list(c) for c in codebooks[s]] for s in range(m)]
            sizes = [[0] * k for _ in range(m)]
            for r in stats:
                s, j = r["__s"], r["__cl"]
                codebooks[s][j][r["__d"] - s * sd] = r["__sum"] / (_Q * r["__n"])
                sizes[s][j] = r["__n"]
        return codebooks, sizes

    codebooks, sizes = ctx.memo(("lloyd", clean, m, k, updates), train)
    return codebooks, sizes, _nearest_codes(clean, codebooks, sd)


def check_encode_method(config: dict, op: str) -> None:
    """Validate the retired ``encode_method`` param: "fold" and
    "gemm" both run ``pq_encoder``, but a typo ('GEMM', 'arrow') is
    still an error — registry `allowed` only WARNS."""
    em = config.get("encode_method", "fold")
    if em not in ("fold", "gemm"):
        raise ConfigError(
            f"{op}: encode_method={em!r} is not one of 'fold'|'gemm'"
        )


def pq_encoder(codebooks: list, m: int, sd: int):
    """The one PQ / cell encode engine: a scalar Arrow UDF mapping a
    vector column to its array<int> code (m argmin indices), NULL
    where the vector fails vec_ok at dim m*sd. Spark sends ONLY the
    vector column to Python and re-attaches the code in the JVM, so
    ids and passthrough columns never cross Arrow, whatever their
    type (year-month / calendar intervals included).

    Bit-exact with _train_pq's JVM fold (the q121/q126 oracles pin
    it): distances accumulate per-dimension SEQUENTIALLY from 0.0 (a
    python loop over the subspace dims — numpy's pairwise sum would
    reorder the adds), and np.argmin's first-occurrence rule is
    array_position's ties-to-lowest. Validity is vec_ok replicated in
    numpy: a NULL element coerces to NaN under float64, so one
    isfinite sweep covers NULL/NaN/Inf alike. embedding.assign_cells
    passes its centroid table as one dim-wide subspace (m=1)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    dim = m * sd
    cb = [np.asarray(codebooks[s], dtype=np.float64) for s in range(m)]

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        out: list = [None] * len(vecs)
        valid_idx, mats = [], []
        for i, v in enumerate(vecs):
            if v is None:
                continue
            try:
                a = np.asarray(v, dtype=np.float64)
            except (TypeError, ValueError):
                continue
            if a.shape != (dim,) or not np.isfinite(a).all():
                continue
            valid_idx.append(i)
            mats.append(a)
        if mats:
            V = np.stack(mats)
            codes = np.empty((len(mats), m), dtype=np.int32)
            for s in range(m):
                sub = V[:, s * sd:(s + 1) * sd]
                d = np.zeros((len(mats), cb[s].shape[0]), dtype=np.float64)
                for j in range(sd):  # sequential over dims = the fold
                    t = sub[:, j, None] - cb[s][None, :, j]
                    d += t * t
                codes[:, s] = d.argmin(axis=1)
            for i, c in zip(valid_idx, codes):
                out[i] = c
        return pd.Series(out, dtype=object)

    # the codes ARE deterministic; the flag keeps the optimizer from
    # pushing a consumer's filter on the codes (knn.pq's validity
    # guard, knn.lsh's norm filter) below the projection as a second
    # copy of the UDF, which ran the encode twice per row
    return encode.asNondeterministic()


def _has_type(dt, kinds: tuple) -> bool:
    """True when ``dt`` is, or nests at any depth, one of ``kinds``."""
    from pyspark.sql import types as T

    if isinstance(dt, kinds):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_type(dt.elementType, kinds)
    if isinstance(dt, T.MapType):
        return _has_type(dt.keyType, kinds) or _has_type(dt.valueType, kinds)
    if isinstance(dt, T.StructType):
        return any(_has_type(f.dataType, kinds) for f in dt.fields)
    return False


def _no_arrow_return(dt) -> bool:
    """True for a type mapInPandas cannot return: a year-month or
    calendar interval, at any nesting depth (Spark raises "Invalid
    return type in mapInPandas" for those; day-time intervals pass)."""
    from pyspark.sql import types as T

    return _has_type(dt, (T.YearMonthIntervalType, T.CalendarIntervalType))


def _clean(ctx: OpContext, df: DataFrame, id_column: str, column: str,
           dim: int | None, op: str) -> tuple[DataFrame, int]:
    """The trainers' input: (__kid, __v) rows of ``df`` passing vec_ok
    at ``dim`` (inferred when None), and that dim. Persisted (the
    MLlib KMeans contract "cache your input": the init collect plus
    every Lloyd stats pass re-scanned the source otherwise —
    iterations+1 full reads collapsed to one; MEMORY_AND_DISK, no OOM
    risk, evictable) and memoized per build on (frame, projection,
    dim), so the IVFPQ compositions' two or three trainings over one
    input (q163: kmeans assign + exported centroids + PQ; q164/q165:
    kmeans + PQ) share ONE persisted frame and one init collect."""
    if dim is None:
        dim = _infer_dim(df, id_column, column, op)
    dim = int(dim)
    vec = F.col(column)
    clean = ctx.memo(
        ("clean", df, id_column, column, dim),
        lambda: ctx.persist(df.filter(vec_ok(vec, dim)).select(
            F.col(id_column).alias("__kid"), vec.alias("__v"))),
    )
    return clean, dim


def _first_k(ctx: OpContext, clean: DataFrame, k: int) -> list:
    """First-k-by-id init rows of a _clean frame, one ~0.4 s collect
    job per (frame, k) per build — keyed on the frame the rows come
    from, so a different input, projection or dim misses."""
    return ctx.memo(
        ("first_k", clean, k),
        lambda: clean.orderBy("__kid").limit(k).select("__v").collect(),
    )


def _collect_once(ctx: OpContext, df: DataFrame,
                  cols: tuple[str, ...]) -> list:
    """collect() a projection once per (frame, projection) per build:
    the deployment compositions hand the SAME centroids/codebooks
    frame to two ops (assign_cells + knn.ivfpq probe; pq_encode +
    probe), and each parse paid a ~0.4 s collect job. The kmeans
    centroids / pq codebooks producers register their driver-side
    rows under the same key, so a same-build consumer skips even the
    first collect."""
    return ctx.memo(("rows", df, cols),
                    lambda: df.select(*cols).collect())


def _parse_codebooks(ctx: OpContext, codebook_df: DataFrame, op: str,
                     config: dict):
    """Load + validate an embedding.pq output='codebooks' table into
    the in-memory [m][k][sd] structure. Derived m/codewords/dim WIN —
    but an explicitly-configured conflicting value is an error, not a
    silent override (a codebook table missing a trailing subspace
    would otherwise shrink m silently and the size==m filter would
    drop every corpus row)."""
    for c in ("subspace", "code", "centroid"):
        if c not in codebook_df.columns:
            raise ConfigError(
                f"{op}: codebooks input has no column {c!r} "
                "(expect embedding.pq output='codebooks')"
            )
    rows = _collect_once(ctx, codebook_df, _CODEBOOK_COLS)
    if not rows:
        raise ConfigError(f"{op}: codebooks input is empty")
    if any(r["centroid"] is None for r in rows):
        raise ConfigError(f"{op}: codebooks input has NULL centroids")
    lens = {len(r["centroid"]) for r in rows}
    if len(lens) != 1:
        raise ConfigError(
            f"{op}: codebook centroids have mixed lengths {sorted(lens)}"
        )
    m = max(r["subspace"] for r in rows) + 1
    kw = max(r["code"] for r in rows) + 1
    sd = lens.pop()
    dim = m * sd
    for key, derived in (("m", m), ("codewords", kw), ("dim", dim)):
        if key in config and int(config[key]) != derived:
            raise ConfigError(
                f"{op}: config {key}={config[key]} conflicts with the "
                f"codebooks input ({key}={derived})"
            )
    codebooks: list[list] = [[None] * kw for _ in range(m)]
    for r in rows:
        codebooks[r["subspace"]][r["code"]] = [
            float(x) for x in r["centroid"]
        ]
    missing = [(s, j) for s in range(m) for j in range(kw)
               if codebooks[s][j] is None]
    if missing:
        raise ConfigError(
            f"{op}: codebooks input is missing entries {missing[:4]}"
        )
    return codebooks, m, kw, sd, dim


@register(
    "embedding.pq", kind="transform",
    doc="Product quantization: train per-subspace codebooks + encode",
    params=[
        P("id_column", required=True, desc="Vector id column"),
        P("column", default="embedding", desc="array<float|double> column"),
        P("m", "integer", default=4, min=1,
          desc="Subspaces (dim must divide evenly)"),
        P("k", "integer", default=16, min=1, desc="Codewords per subspace"),
        P("iterations", "integer", default=3, min=1, desc="Lloyd iterations"),
        P("dim", "integer", min=1, desc="Dimensionality (default inferred)"),
        P("output", default="codes", allowed=("codes", "codebooks"),
          desc="codes: input + pq_code array<int>; codebooks: m*k rows"),
        P("output_column", default="pq_code", desc="Code column"),
        P("encode_method", default="fold", allowed=("fold", "gemm"),
          desc="Retired: both values run the one Arrow UDF encode "
               "and give identical codes (output='codes' only)"),
    ],
    example={"id_column": "doc_id", "column": "embedding", "m": 4,
             "k": 4, "iterations": 2},
    tags=["embedding", "ann", "compression", "datapipe"],
)
def embedding_pq(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Product quantization (Jégou et al.): split each vector into m
    subvectors, k-means each subspace, store each vector as m small
    code indices — a dim x 4 bytes -> m bytes compression that makes
    billion-vector ANN RAM-feasible; ``knn.pq`` searches the codes
    via asymmetric distance (ADC).

    Training advances ALL subspaces in one distributed pass per
    iteration (per-row argmin per subspace is a codegen'd expression
    over literal codebooks; one (subspace, cluster, dim) aggregate
    collects m*k*dim rows). Codes are the argmin under the POST-loop
    codebooks (one pq_encoder pass; ``encode_method`` is retired), so
    train-then-encode replays deterministically — same
    floor-quantized int64 centroid recipe as embedding.kmeans,
    oracle-replayable in SQL (q121).

    Scale: per iteration one pass over the data; codebooks are
    m*k*(dim/m) doubles on the driver (k<=256, m<=64 -> always tiny);
    the encoded corpus is the durable artifact — write it once, run
    many knn.pq searches against it."""
    df = inputs[0]
    id_column = config.get("id_column")
    if not id_column:
        raise ConfigError("embedding.pq requires 'id_column'")
    column = config.get("column", "embedding")
    for c in (id_column, column):
        if c not in df.columns:
            raise ConfigError(f"embedding.pq: no column {c!r}")
    m = int(config.get("m", 4))
    k = int(config.get("k", 16))
    iterations = int(config.get("iterations", 3))
    if m < 1 or k < 1 or iterations < 1:
        raise ConfigError("embedding.pq: m, k, iterations must be >= 1")
    output = config.get("output", "codes")
    if output not in ("codes", "codebooks"):
        raise ConfigError("embedding.pq: output must be codes|codebooks")
    out_col = config.get("output_column", "pq_code")
    check_encode_method(config, "embedding.pq")
    if output == "codebooks" and "encode_method" in config:
        raise ConfigError(
            "embedding.pq: encode_method configures the ENCODE pass and "
            "has no effect with output='codebooks' (no codes are "
            "emitted); remove the key or set output='codes'"
        )

    clean, dim = _clean(ctx, df, id_column, column, config.get("dim"),
                        "embedding.pq")
    if dim % m != 0:
        raise ConfigError(
            f"embedding.pq: dim {dim} not divisible by m={m}"
        )
    codebooks, _, _ = _train_pq(ctx, clean, dim, m, k, iterations)

    if output == "codebooks":
        rows = [
            (s, j, codebooks[s][j])
            for s in range(m) for j in range(k)
        ]
        out = ctx.spark.createDataFrame(
            rows, "subspace INT, code INT, centroid ARRAY<DOUBLE>"
        )
        # same-build consumers skip the collect (see _collect_once)
        ctx.memo(("rows", out, _CODEBOOK_COLS), lambda: [
            dict(zip(_CODEBOOK_COLS, r)) for r in rows])
        return out
    # the final encode under the POST-loop codebooks, through the
    # one encode engine (bit-exact with training's fold assign)
    codes = clean.select(
        "__kid", pq_encoder(codebooks, m, dim // m)("__v").alias(out_col))
    return df.join(
        codes, df[id_column] == codes["__kid"], "left"
    ).drop("__kid")


@register(
    "embedding.pq_encode", kind="transform", min_inputs=2, max_inputs=2,
    doc="Encode vectors against pretrained PQ codebooks (no training)",
    params=[
        P("id_column", required=True, desc="Vector id column"),
        P("column", default="embedding", desc="array<float|double> column"),
        P("output_column", default="pq_code", desc="Code column"),
        P("m", "integer", min=1,
          desc="Optional cross-check: error if the codebooks disagree"),
        P("codewords", "integer", min=1,
          desc="Optional cross-check against the codebooks"),
        P("dim", "integer", min=1,
          desc="Optional cross-check against the codebooks"),
        P("encode_method", default="fold", allowed=("fold", "gemm"),
          desc="Retired: both values run the one Arrow UDF encode "
               "and give identical codes"),
    ],
    example={"id_column": "doc_id", "column": "embedding"},
    tags=["embedding", "ann", "compression", "datapipe"],
)
def embedding_pq_encode(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """The deployment half of PQ: encode any vector set against a
    codebook table trained ONCE (embedding.pq output="codebooks",
    typically on a sample) — one argmin pass, zero training jobs.
    Train on a 1% sample, pq_encode the 100 TB corpus, search
    forever with knn.pq's pretrained mode. Same argmin/tie rules as
    training, so encode(train_corpus) reproduces embedding.pq's own
    codes exactly (tested).

    The codes come from pq_encoder: one scalar Arrow UDF over the
    vector column, a shuffle-free scan that appends ``output_column``
    (NULL where the vector fails vec_ok; an existing column of that
    name is replaced in place). Only the vectors cross into Python,
    so every other column passes through untouched, whatever its
    type. ``encode_method`` is retired: "fold" and "gemm" both run
    this engine."""
    df, codebook_df = inputs
    id_column = config.get("id_column")
    if not id_column:
        raise ConfigError("embedding.pq_encode requires 'id_column'")
    column = config.get("column", "embedding")
    for c in (id_column, column):
        if c not in df.columns:
            raise ConfigError(f"embedding.pq_encode: no column {c!r}")
    out_col = config.get("output_column", "pq_code")
    check_encode_method(config, "embedding.pq_encode")
    codebooks, m, _, sd, _ = _parse_codebooks(
        ctx, codebook_df, "embedding.pq_encode", config
    )
    return df.withColumn(
        out_col, pq_encoder(codebooks, m, sd)(F.col(column)))


@register(
    "knn.pq", kind="transform", min_inputs=2, max_inputs=3,
    doc="PQ asymmetric-distance (ADC) approximate top-k",
    params=[
        P("id_column", required=True, desc="Corpus vector id column"),
        P("column", default="embedding", desc="Vector column"),
        P("query_id_column", desc="Query id column (default: id_column)"),
        P("k", "integer", default=10, min=1, desc="Neighbors per query"),
        P("m", "integer", default=4, min=1, desc="Subspaces"),
        P("codewords", "integer", default=16, min=1,
          desc="Codewords per subspace"),
        P("iterations", "integer", default=3, min=1, desc="Lloyd iterations"),
        P("dim", "integer", min=1, desc="Dimensionality (default inferred)"),
        P("code_column",
          desc="Corpus is PRE-ENCODED: this array<int> column holds "
               "the pq codes; requires the codebooks third input"),
    ],
    example={"id_column": "doc_id", "column": "embedding", "k": 2,
             "m": 4, "codewords": 4, "iterations": 2},
    tags=["embedding", "ann", "similarity", "datapipe"],
)
def knn_pq(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """ADC search over a PQ-encoded corpus: for each query build the
    m x k table of exact subspace distances to every codeword and
    score each corpus vector as the sum of its m table lookups —
    approximate L2 ranking at m lookups per vector instead of dim
    multiplies. Output: (query_id, corpus id, adc_dist, rank) top-k
    per query, ties to the lower corpus id.

    inputs: [corpus, queries] — trains codebooks on the corpus
    (embedding.pq's recipe) and encodes inline — or
    [corpus, queries, codebooks] with ``code_column`` set: the
    train-once-search-many deployment, where embedding.pq already
    wrote the encoded corpus (output="codes") and the codebook table
    (output="codebooks"), and each search touches ONLY (id, m-byte
    code) pairs — the corpus vectors never load at all. The two
    paths return identical results (q126 proves it against q121's
    oracle).

    Exactness: the distance table entries are the same left-to-right
    subspace folds as training; the per-pair ADC total folds in
    subspace order; round 9 before ranking — fully oracle-replayable
    (q121 runs train + encode + search end-to-end in SQL).

    Scale: inline mode touches the corpus for training passes + ONE
    encode; pretrained mode only moves code triples. The distance
    table is |queries| x m x k rows — benchmark-sized queries
    broadcast into the code join. The brute-force baseline
    (knn.brute) ships full vectors to every comparison; ADC ships
    codes."""
    corpus, queries = inputs[0], inputs[1]
    codebook_df = inputs[2] if len(inputs) > 2 else None
    id_column = config.get("id_column")
    if not id_column:
        raise ConfigError("knn.pq requires 'id_column'")
    column = config.get("column", "embedding")
    qid_col = config.get("query_id_column", id_column)
    code_column = config.get("code_column")
    if (code_column is None) != (codebook_df is None):
        raise ConfigError(
            "knn.pq: pretrained mode needs BOTH the codebooks third "
            "input and 'code_column' (got one without the other)"
        )
    corpus_cols = (id_column, code_column) if code_column \
        else (id_column, column)
    for dfx, cols, side in (
        (corpus, corpus_cols, "corpus"),
        (queries, (qid_col, column), "queries"),
    ):
        for c in cols:
            if c not in dfx.columns:
                raise ConfigError(f"knn.pq: {side} has no column {c!r}")
    k = int(config.get("k", 10))
    m = int(config.get("m", 4))
    kw = int(config.get("codewords", 16))
    iterations = int(config.get("iterations", 3))
    if min(k, m, kw, iterations) < 1:
        raise ConfigError(
            "knn.pq: k, m, codewords, iterations must all be >= 1"
        )

    if code_column is not None:
        codebooks, m, kw, sd, dim = _parse_codebooks(
            ctx, codebook_df, "knn.pq", config
        )
        codes = corpus.filter(_valid_codes(code_column, m, kw)).select(
            F.col(id_column).alias("__kid"),
            F.posexplode(code_column).alias("__s", "__code"),
        )
    else:
        clean, dim = _clean(ctx, corpus, id_column, column,
                            config.get("dim"), "knn.pq")
        if dim % m != 0:
            raise ConfigError(f"knn.pq: dim {dim} not divisible by m={m}")
        sd = dim // m
        codebooks, _, encoded = _train_pq(ctx, clean, dim, m, kw,
                                          iterations, op="knn.pq")
        # corpus side: skinny (id, subspace, code) triples
        codes = encoded.select(
            "__kid",
            F.posexplode(
                F.array(*[F.col(f"__c{s}") for s in range(m)])
            ).alias("__s", "__code"),
        )

    # query side: exact distance to every codeword of every subspace
    qclean = queries.filter(vec_ok(F.col(column), dim)).select(
        F.col(qid_col).alias("__qid"), F.col(column).alias("__v"))
    dtable = _adc_dtable(qclean, codebooks, m, kw, sd)

    pair_sub = codes.join(F.broadcast(dtable), ["__s", "__code"])
    return _adc_topk(pair_sub, qid_col, id_column, k)


def _valid_codes(code_column: str, m: int, kw: int):
    """Predicate: a usable PQ code array. Invalid codes (NULL / wrong
    arity / out-of-range elements) would silently drop out of the
    distance-table join, leaving a PARTIAL ADC sum that outranks
    genuine neighbors — such rows are excluded entirely (knn.pq's
    guard, shared with knn.ivfpq)."""
    return (
        F.col(code_column).isNotNull() & (F.size(code_column) == m)
        & ~F.exists(
            code_column,
            lambda x: x.isNull() | (x < 0) | (x >= kw),
        )
    )


def _adc_dtable(qclean: DataFrame, codebooks: list, m: int, kw: int,
                sd: int) -> DataFrame:
    """The per-query ADC distance table shared by knn.pq and
    knn.ivfpq: m x codewords exact subspace distances per query —
    (__qid, __s, __code, __d) rows, |Q| * m * kw total, built from
    one parsed SQL literal per codeword (the py4j round-trip
    lesson). ``qclean`` must be (__qid, __v) vec_ok-filtered rows."""
    table_entries = F.expr("array(" + ", ".join(
        f"named_struct('__s', {s}, '__code', {j}, "
        f"'__d', {_sub_dist_sql('__v', s * sd, codebooks[s][j])})"
        for s in range(m) for j in range(kw)
    ) + ")")
    return qclean.select(
        "__qid", F.explode(table_entries).alias("__e")
    ).select("__qid", "__e.__s", "__e.__code", "__e.__d")


def _adc_topk(pair_sub: DataFrame, qid_col: str, id_column: str,
              k: int) -> DataFrame:
    """The ADC tail shared by knn.pq and knn.ivfpq: sum each
    (query, corpus id)'s subspace distances in subspace order (the
    array_sort key is __s — unique per pair, so the fold order is
    deterministic), round 9, rank (adc_dist asc, id asc), cut at k."""
    scored = (
        pair_sub.groupBy("__qid", "__kid")
        .agg(
            F.collect_list(
                F.struct(F.col("__s").alias("k"), F.col("__d").alias("v"))
            ).alias("__ds")
        )
        .select(
            F.col("__qid").alias(qid_col if qid_col != id_column
                                 else f"query_{id_column}"),
            F.col("__kid").alias(id_column),
            F.round(
                F.aggregate(
                    F.array_sort(F.col("__ds")), F.lit(0.0),
                    lambda acc, x: acc + x["v"],
                ), 9,
            ).alias("adc_dist"),
        )
    )
    qout = qid_col if qid_col != id_column else f"query_{id_column}"
    w = Window.partitionBy(qout).orderBy(
        F.col("adc_dist"), F.col(id_column)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )



def _parse_centroids(ctx: OpContext, centroid_df: DataFrame, op: str,
                     cell_col: str, dim: int | None = None
                     ) -> tuple[list[list[float]], int]:
    """Load + validate an embedding.kmeans output='centroids' table
    into a driver-side list indexed by cell id. Cells must be a
    contiguous 0..n-1 range (kmeans emits exactly that; a gap means
    the caller passed the wrong table). With ``dim`` given (knn.ivfpq:
    the codebooks define the space) every centroid must match it — a
    silent mismatch would make every probe distance NULL and return
    an empty result; with dim=None (embedding.assign_cells: the
    quantizer defines the space) it is derived, mixed lengths
    rejected. Returns (centroids, dim)."""
    for c in (cell_col, "centroid"):
        if c not in centroid_df.columns:
            raise ConfigError(
                f"{op}: centroids input has no column {c!r} "
                "(expect embedding.kmeans output='centroids')"
            )
    rows = _collect_once(ctx, centroid_df, (cell_col, "centroid"))
    if not rows:
        raise ConfigError(f"{op}: centroids input is empty")
    if any(r[cell_col] is None or r["centroid"] is None for r in rows):
        raise ConfigError(f"{op}: centroids input has NULL cells/centroids")
    cells = sorted(int(r[cell_col]) for r in rows)
    if cells != list(range(len(rows))):
        raise ConfigError(
            f"{op}: centroid cells must be contiguous 0..n-1 "
            f"(got {cells[:6]}{'...' if len(cells) > 6 else ''})"
        )
    lens = {len(r["centroid"]) for r in rows}
    if dim is None:
        if len(lens) != 1:
            raise ConfigError(
                f"{op}: centroids have mixed lengths {sorted(lens)}"
            )
        dim = lens.pop()
    elif lens != {dim}:
        raise ConfigError(
            f"{op}: centroid dims {sorted(lens)} != codebooks dim {dim}"
        )
    out: list[list[float]] = [[] for _ in rows]
    for r in rows:
        out[int(r[cell_col])] = [float(x) for x in r["centroid"]]
    return out, dim


@register(
    "knn.ivfpq", kind="transform", min_inputs=4, max_inputs=4,
    doc="IVF+PQ search: probe nprobe cells, ADC over their codes only",
    params=[
        P("id_column", required=True, desc="Corpus vector id column"),
        P("column", default="embedding", desc="Query vector column"),
        P("query_id_column", desc="Query id column (default: id_column)"),
        P("k", "integer", default=10, min=1, desc="Neighbors per query"),
        P("nprobe", "integer", default=1, min=1,
          desc="IVF cells scanned per query (recall/cost dial)"),
        P("cell_column", required=True,
          desc="Corpus IVF cell column (embedding.kmeans assignment)"),
        P("code_column", required=True,
          desc="Corpus pq code column (embedding.pq_encode output)"),
        P("centroid_cell_column", default="cluster",
          desc="Cell id column of the centroids (third) input"),
        P("rerank", "integer", min=1,
          desc="FAISS-refine step: keep the top 'rerank' ADC "
               "candidates per query, exact-L2 re-rank them from the "
               "raw vectors (vector_column), output l2_dist"),
        P("vector_column",
          desc="Corpus raw-vector column for the re-rank (default: "
               "'column'); only the survivors' vectors ever load"),
    ],
    example={"id_column": "vec_id", "column": "embedding", "k": 3,
             "nprobe": 2, "cell_column": "ivf_cell",
             "code_column": "pq_code"},
    tags=["embedding", "ann", "similarity", "datapipe"],
)
def knn_ivfpq(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """The FAISS-canonical IVFPQ composition (Jégou et al.), as one
    op over pretrained artifacts: inputs = [corpus, queries,
    centroids, codebooks] where the corpus is STAMPED (an IVF cell
    from embedding.kmeans and an m-byte PQ code from
    embedding.pq_encode), centroids = embedding.kmeans
    output='centroids', codebooks = embedding.pq output='codebooks'.
    Each query ranks the coarse centroids exactly (ties to the lower
    cell), probes its ``nprobe`` nearest cells, and ADC-scores ONLY
    the codes posted in those cells — then top-k on (adc_dist, id).
    Output: (query id, corpus id, adc_dist, rank), knn.pq's schema.

    Scale (the reason this op exists): flat knn.pq joins every query
    against ALL N corpus codes — O(N*Q) pairs into the aggregate. The
    cell restriction cuts that to N*Q*nprobe/n_cells: at 1e9 vectors,
    1024 cells, nprobe 8, each query touches ~8M codes instead of
    1e9. Corpus rows move once as skinny (id, cell, subspace, code)
    INT tuples — vectors never load; the probe map (|Q| x nprobe) and
    the distance table (|Q| x m x codewords) broadcast, so the only
    shuffle is the candidate-bound (query, id) aggregate. The same
    contract as knn.pq pretrained mode: queries are the small side.

    Determinism: centroid probe distances are the same left-to-right
    literal folds as embedding.kmeans assignment; ADC sums fold in
    subspace order, round 9 (``_adc_topk``) — the whole pipeline
    (train, stamp, probe, screen, rank) replays in the q163 oracle.

    Reference parity: the reference engine has no ANN at all; this
    extends its roadmap the way knn.brute/ivf/lsh/pq do
    (/root/reference/README.md capabilities list)."""
    corpus, queries, centroid_df, codebook_df = inputs
    id_column = config.get("id_column")
    if not id_column:
        raise ConfigError("knn.ivfpq requires 'id_column'")
    column = config.get("column", "embedding")
    qid_col = config.get("query_id_column", id_column)
    cell_column = config.get("cell_column")
    code_column = config.get("code_column")
    if not cell_column or not code_column:
        raise ConfigError(
            "knn.ivfpq requires 'cell_column' (embedding.kmeans "
            "assignment) and 'code_column' (embedding.pq_encode output)"
        )
    for dfx, cols, side in (
        (corpus, (id_column, cell_column, code_column), "corpus"),
        (queries, (qid_col, column), "queries"),
    ):
        for c in cols:
            if c not in dfx.columns:
                raise ConfigError(f"knn.ivfpq: {side} has no column {c!r}")
    k = int(config.get("k", 10))
    nprobe = int(config.get("nprobe", 1))
    if min(k, nprobe) < 1:
        raise ConfigError("knn.ivfpq: k and nprobe must be >= 1")
    rerank_cfg = config.get("rerank")
    if rerank_cfg is not None and int(rerank_cfg) < 1:
        # a templated 0 silently flipping the output schema to
        # adc_dist would be the dead-knob class — absence means off,
        # an explicit value must be a valid cut
        raise ConfigError(
            f"knn.ivfpq: rerank={rerank_cfg} — must be >= 1 (omit the "
            "key to disable the exact re-rank)"
        )
    rerank = int(rerank_cfg) if rerank_cfg is not None else 0
    vector_column = config.get("vector_column", column)
    if rerank:
        if rerank < k:
            raise ConfigError(
                f"knn.ivfpq: rerank={rerank} < k={k} — the exact "
                "re-rank could never fill the top-k it is asked for"
            )
        if vector_column not in corpus.columns:
            raise ConfigError(
                f"knn.ivfpq: corpus has no column {vector_column!r} "
                "(the re-rank reads the raw vectors)"
            )
    elif "vector_column" in config:
        raise ConfigError(
            "knn.ivfpq: 'vector_column' only configures the exact "
            "re-rank and has no effect without 'rerank' — remove the key"
        )

    codebooks, m, kw, sd, dim = _parse_codebooks(
        ctx, codebook_df, "knn.ivfpq", config
    )
    centroids, _ = _parse_centroids(
        ctx, centroid_df, "knn.ivfpq",
        config.get("centroid_cell_column", "cluster"), dim,
    )

    qclean = queries.filter(vec_ok(F.col(column), dim)).select(
        F.col(qid_col).alias("__qid"), F.col(column).alias("__v"))

    # coarse probe: exact distance to every centroid (k_cells literal
    # folds — the same arithmetic as embedding.kmeans assignment),
    # keep the nprobe nearest cells, ties to the lower cell id. The
    # window partitions by query — queries are the small side here.
    # single-parse SQL folds (not the k_cells-lambda Column build —
    # py4j round-trips, the kmeans/_train_pq lesson); posexplode
    # consumes the array once, so one step suffices here
    cdists = F.expr("array(" + ", ".join(
        _sub_dist_sql("__v", 0, c) for c in centroids) + ")")
    probes = (
        qclean.select("__qid", F.posexplode(cdists).alias("__cell", "__cd"))
        .withColumn(
            "__pr",
            F.row_number().over(
                Window.partitionBy("__qid")
                .orderBy(F.col("__cd"), F.col("__cell"))
            ),
        )
        .filter(F.col("__pr") <= nprobe)
        .select("__qid", "__cell")
    )

    # per-query ADC distance table (knn.pq's builder, shared)
    dtable = _adc_dtable(qclean, codebooks, m, kw, sd)

    # corpus side: skinny (id, cell, subspace, code) INT tuples;
    # invalid codes excluded (shared guard), NULL cells unprobeable
    codes = corpus.filter(
        _valid_codes(code_column, m, kw)
        & F.col(cell_column).isNotNull()
    ).select(
        F.col(id_column).alias("__kid"),
        F.col(cell_column).cast("int").alias("__cell"),
        F.posexplode(code_column).alias("__s", "__code"),
    )

    # candidate stream = codes in probed cells only; both the probe
    # map and the distance table broadcast (query-side sized)
    cand = codes.join(F.broadcast(probes), "__cell")
    pair_sub = cand.join(F.broadcast(dtable), ["__qid", "__s", "__code"])
    if not rerank:
        return _adc_topk(pair_sub, qid_col, id_column, k)

    # FAISS-refine: the ADC screen keeps 'rerank' survivors per query
    # (same ordering as the plain return), and ONLY those pairs join
    # the raw vectors for an exact squared-L2 — |Q| * rerank vector
    # rows move, never the corpus. Survivors whose corpus vector
    # fails vec_ok drop out (their exact distance is undefined).
    qout = qid_col if qid_col != id_column else f"query_{id_column}"
    screened = _adc_topk(pair_sub, qid_col, id_column, rerank) \
        .select(qout, id_column)
    cvec = corpus.filter(vec_ok(F.col(vector_column), dim)).select(
        F.col(id_column).alias("__rid"),
        F.col(vector_column).alias("__rcv"),
    )
    qvec = qclean.select(
        F.col("__qid").alias("__rqid"), F.col("__v").alias("__rqv"))
    paired = (
        cvec.join(F.broadcast(screened),
                  cvec["__rid"] == F.col(id_column))
        .join(F.broadcast(qvec), F.col(qout) == F.col("__rqid"))
    )
    # pairwise left-to-right fold — the oracle-replayable order
    l2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("__rqv"), F.col("__rcv"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ), 9,
    )
    w = Window.partitionBy(qout).orderBy(F.col("l2_dist"), F.col(id_column))
    return (
        paired.select(qout, id_column, l2.alias("l2_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


@register(
    "embedding.assign_cells", kind="transform", min_inputs=2,
    max_inputs=2,
    doc="Assign vectors to pretrained k-means cells (no training)",
    params=[
        P("column", default="embedding", desc="array<float|double> column"),
        P("output_column", default="cell", desc="Assignment column (INT)"),
        P("centroid_cell_column", default="cluster",
          desc="Cell id column of the centroids (second) input"),
        P("encode_method", default="fold", allowed=("fold", "gemm"),
          desc="Retired: both values run the one Arrow UDF encode "
               "and give identical cells"),
    ],
    example={"column": "embedding", "output_column": "ivf_cell"},
    tags=["embedding", "clustering", "ann", "datapipe"],
)
def embedding_assign_cells(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """The deployment half of the coarse quantizer — the
    embedding.pq_encode analog for k-means cells: stamp any vector
    set with its nearest-centroid cell against a centroid table
    trained ONCE (embedding.kmeans output='centroids', typically on
    a sample). Train on 1%, assign_cells + pq_encode the 100 TB
    corpus (both one shuffle-free scan), search forever with
    knn.ivfpq. Same distance folds and ties-to-lowest argmin as
    embedding.kmeans itself, so assign_cells against the quantizer
    kmeans exported at iterations=T-1 reproduces kmeans assign-mode
    output at iterations=T exactly (tested); rows failing vec_ok get
    NULL (kmeans assign parity).

    The cell is pq_encoder's one-element code with the centroid table
    as a single dim-wide subspace: one scalar Arrow UDF over the
    vector column, every other column untouched. ``encode_method`` is
    retired: "fold" and "gemm" both run this engine."""
    df, centroid_df = inputs
    column = config.get("column", "embedding")
    if column not in df.columns:
        raise ConfigError(f"embedding.assign_cells: no column {column!r}")
    out_col = config.get("output_column", "cell")
    check_encode_method(config, "embedding.assign_cells")
    # dim comes from the centroid table — the quantizer defines the
    # space; a corpus row of any other length is simply invalid
    centroids, dim = _parse_centroids(
        ctx, centroid_df, "embedding.assign_cells",
        config.get("centroid_cell_column", "cluster"),
    )

    enc = pq_encoder([centroids], 1, dim)
    return df.withColumn(out_col, F.element_at(enc(F.col(column)), 1))
