"""Similarity search over embedding columns (array<float>).

- knn.brute: exact top-k cosine — the small-query-set baseline. The
  query set is broadcast (it's small by definition); each executor
  scans its partition of the corpus once, then a per-query top-k
  window. No corpus shuffle beyond the top-k aggregation.
- knn.ivf: IVF-style bucketed ANN — queries probe only their bucket
  (a precomputed cluster/partition id column), cutting the scanned
  fraction to ~1/n_buckets. With a bucketed/partitioned corpus table
  this prunes at the scan.

Dot products are pure JVM array expressions (zip_with + aggregate) —
no Python, no UDF. Norms are projected ONCE per vector before the
pair join (a naive cosine-per-pair recomputes both norms |pairs|
times — 3x the flops).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def pair_cosine(qv: Column, cv: Column, qn: Column, cn: Column) -> Column:
    """cosine from pre-projected norms: dot/(qn*cn) — same arithmetic
    shape as dot/(sqrt(qq)*sqrt(cc)), so external oracles match."""
    return dot_expr(qv, cv) / (qn * cn)


def valid_norm(n: Column) -> Column:
    """Rows a cosine is defined for. Zero-norm vectors would divide
    by zero — a hard DIVIDE_BY_ZERO error under ANSI mode (the Spark
    4 default), not a NaN — and NaN norms compare as LARGEST in
    Spark, so both must be filtered BEFORE the division, on every
    join-path op (the GEMM paths mask the same rows numpy-side)."""
    return n.isNotNull() & ~F.isnan(n) & (n > 0)


def _topk(joined: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _resolve_queries(
    corpus: DataFrame, inputs: list[DataFrame], config: dict[str, Any],
    id_column: str, allow_self: bool = False,
) -> DataFrame:
    if len(inputs) > 1:
        return inputs[1]
    qids = config.get("query_ids")
    if not qids:
        if allow_self:
            return corpus  # self-kNN (same default as knn.lsh)
        raise ConfigError("knn requires a second input or 'query_ids'")
    return corpus.filter(F.col(id_column).isin(list(qids)))


@register(
    "knn.brute", kind="transform", min_inputs=1, max_inputs=2,
    doc="Exact top-k cosine neighbors",
    params=[
        P("id_column", required=True, desc="Row id"),
        P("column", default="embedding", desc="Vector column (array<float>)"),
        P("query_ids", "array", desc="Query subset (default: second input)"),
        P("k", "integer", default=10, min=1, desc="Neighbors per query"),
        P("max_queries", "integer", default=100000, min=1,
          desc="Broadcast guard: refuse more queries than this"),
    ],
    example={"id_column": "id", "k": 10, "query_ids": [1, 2, 3]},
    tags=["similarity", "knn", "datapipe"],
)
def knn_brute(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """inputs: [corpus] or [corpus, queries]. Config: id_column,
    column (embedding), k, query_ids (when no query input given).

    The QUERY side is broadcast (one corpus scan, no corpus shuffle),
    so it must fit in executor memory — the right shape for "find
    neighbors of these N probes in a huge corpus". query_ids lists
    are size-checked up front (``max_queries``, default 100000); a
    query *DataFrame* input is the caller's contract to keep small —
    use knn.ivf / embedding.lsh bucketing when BOTH sides are large.
    """
    corpus = inputs[0]
    id_column = config.get("id_column")
    column = config.get("column", "embedding")
    k = int(config.get("k", 10))
    qids = config.get("query_ids")
    max_queries = int(config.get("max_queries", 100_000))
    if qids is not None and len(list(qids)) > max_queries:
        raise ConfigError(
            f"knn.brute: {len(list(qids))} query_ids exceed max_queries={max_queries} "
            "(the query side is broadcast); raise max_queries deliberately or use knn.ivf"
        )
    queries = _resolve_queries(corpus, inputs, config, id_column)
    q = queries.select(
        F.col(id_column).alias("query_id"),
        F.col(column).alias("__qv"),
        norm_expr(F.col(column)).alias("__qn"),
    ).filter(valid_norm(F.col("__qn")))
    c = corpus.select(
        F.col(id_column).alias("neighbor_id"),
        F.col(column).alias("__cv"),
        norm_expr(F.col(column)).alias("__cn"),
    ).filter(valid_norm(F.col("__cn")))
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    joined = joined.withColumn(
        "cosine",
        F.round(pair_cosine(F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")), 6),
    )
    return _topk(joined, k)


@register(
    "knn.ivf", kind="transform", min_inputs=1, max_inputs=2,
    doc="IVF-bucketed approximate top-k",
    params=[
        P("id_column", required=True, desc="Row id"),
        P("column", default="embedding", desc="Vector column (array<float>)"),
        P("bucket_column", required=True, desc="Pre-assigned IVF cell column"),
        P("k", "integer", default=10, min=1, desc="Neighbors per query"),
        P("query_ids", "array", desc="Query subset (default: second input)"),
        P("method", default="gemm", allowed=("gemm", "join"),
          desc="Retired: both values run the one per-bucket BLAS "
               "engine (Arrow cogroup) with identical output"),
    ],
    example={"id_column": "id", "bucket_column": "ivf_cell", "k": 10},
    tags=["similarity", "knn", "datapipe"],
)
def knn_ivf(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Like knn.brute but only scans the query's bucket
    (`bucket_column` = precomputed cluster id).

    Corpus and query rows shuffle ONCE by bucket, Arrow lands each
    side as a matrix, and Q @ C.T + argpartition produce each query's
    top-k inside the cogroup — no per-pair row materialization, no
    interpreted dot folds, and per-query top-k needs no window. Both
    sides may be large. Ties break by neighbor id, as knn.brute's
    _topk. A NULL bucket, a NULL / zero-norm / NaN vector and a
    length mismatch are never neighbors (the cosine is undefined).

    ``method`` is retired: "gemm" and "join" both run this engine.
    The id column must be a type the cogroup can return: a
    year-month or calendar interval id is refused (cast it first)."""
    corpus = inputs[0]
    id_column = config.get("id_column")
    column = config.get("column", "embedding")
    bucket = config.get("bucket_column")
    from conveyor_spark.datapipe.clustering import _no_arrow_return

    id_type = corpus.schema[id_column].dataType
    if _no_arrow_return(id_type):
        raise ConfigError(
            f"knn.ivf: id column {id_column!r} is {id_type.simpleString()}, "
            "which the per-bucket cogroup cannot return; cast it (e.g. "
            "to string or bigint) first"
        )
    k = int(config.get("k", 10))
    # no queries given -> self-kNN within each bucket (knn.lsh's
    # default; self-matches are excluded either way)
    queries = _resolve_queries(corpus, inputs, config, id_column, allow_self=True)
    import numpy as np
    import pandas as pd

    idt = id_type.simpleString()
    # slim rows only: norms are recomputed vectorized inside the
    # cogroup (a norm_expr HOF fold per row would be interpreted JVM
    # work shipping a column the GEMM never reads). NULL buckets are
    # dropped: a NULL bucket matches nothing (cogroup would pool them).
    qg = queries.select(
        F.col(id_column).alias("query_id"),
        F.col(column).alias("__qv"),
        F.col(bucket).alias("__qb"),
    ).filter(F.col("__qb").isNotNull())
    cg = corpus.select(
        F.col(id_column).alias("neighbor_id"),
        F.col(column).alias("__cv"),
        F.col(bucket).alias("__cb"),
    ).filter(F.col("__cb").isNotNull())

    def bucket_knn(qpdf: "pd.DataFrame", cpdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {"query_id": [], "neighbor_id": [], "cosine": [], "rank": []}
        )
        # NULL vectors can't join a matrix (and have no cosine)
        qpdf = qpdf[qpdf["__qv"].notna()]
        cpdf = cpdf[cpdf["__cv"].notna()]
        if qpdf.empty or cpdf.empty:
            return empty
        frames = []
        # ragged data: a query only scores same-length corpus vectors
        # (knn.brute's pair_cosine is NULL on a length mismatch)
        qlen = qpdf["__qv"].str.len()
        clen = cpdf["__cv"].str.len()
        for dim in sorted(set(qlen) & set(clen)):
            qp, cp = qpdf[qlen == dim], cpdf[clen == dim]
            cids = cp["neighbor_id"].to_numpy()
            order = np.argsort(cids)  # neighbor-id tiebreak = _topk's
            cids = cids[order]
            C = np.asarray(cp["__cv"].to_list(), dtype=np.float64)[order]
            cn = np.sqrt((C * C).sum(axis=1))
            Q = np.asarray(qp["__qv"].to_list(), dtype=np.float64)
            qn = np.sqrt((Q * Q).sum(axis=1))
            qids = qp["query_id"].to_numpy()
            # zero-norm / NaN vectors: a NaN sims COLUMN would poison
            # the per-row partition threshold (NaN sorts largest) and
            # silently drop real neighbors — exclude them (cosine
            # undefined; knn.brute's valid_norm filters the same)
            cok = np.isfinite(cn) & (cn > 0)
            if not cok.all():
                cids, C, cn = cids[cok], C[cok], cn[cok]
            qok = np.isfinite(qn) & (qn > 0)
            if not qok.all():
                Q, qn, qids = Q[qok], qn[qok], qids[qok]
            if not len(cids) or not len(qids):
                continue
            out = {"query_id": [], "neighbor_id": [], "cosine": [], "rank": []}
            ch = max(1, int(4e7) // len(cids))  # <=320MB sim block
            for s in range(0, len(qids), ch):
                sims = np.round(
                    (Q[s:s + ch] @ C.T) / np.outer(qn[s:s + ch], cn), 6
                )
                # self-exclusion, vectorized
                sims[cids[None, :] == qids[s:s + ch, None]] = -np.inf
                n_c = sims.shape[1]
                kk = min(k, n_c)
                # per-row k-th largest VALUE (vectorized); then each
                # row exact-sorts only the >= threshold candidates by
                # (cosine desc, id asc) — same result as a full sort
                # (ties included before the cut), O(n + t log t)
                thresh = np.partition(sims, n_c - kk, axis=1)[:, n_c - kk]
                for i in range(sims.shape[0]):
                    row = sims[i]
                    cand = np.flatnonzero(row >= thresh[i])
                    cand = cand[np.lexsort((cids[cand], -row[cand]))][:kk]
                    cand = cand[row[cand] > -np.inf]
                    out["query_id"] += [qids[s + i]] * len(cand)
                    out["neighbor_id"] += list(cids[cand])
                    out["cosine"] += list(row[cand])
                    out["rank"] += list(range(1, len(cand) + 1))
            frames.append(pd.DataFrame(out))
        return pd.concat(frames) if frames else empty

    return qg.groupby("__qb").cogroup(cg.groupby("__cb")).applyInPandas(
        bucket_knn,
        schema=f"query_id {idt}, neighbor_id {idt}, cosine double, rank int",
    )


def _sdc_tables(codebooks: list[list[list[float]]]) -> list[list[list[float]]]:
    """Symmetric-distance dot tables, driver-side: tbl[s][i][j] =
    0.0 + sum_d cb[s][i][d] * cb[s][j][d], folded left-to-right —
    the exact IEEE sequence the DuckDB oracle replays with
    list_reduce(list_prepend(0.0, products)). Size is m*k*k doubles
    (m=4, k=16 -> 1 KB): codebook-bounded, never data-bounded."""
    tables = []
    for cb in codebooks:
        t = []
        for row_i in cb:
            row = []
            for row_j in cb:
                acc = 0.0
                for x, y in zip(row_i, row_j):
                    acc += float(x) * float(y)
                row.append(acc)
            t.append(row)
        tables.append(t)
    return tables


def _sdc_table_sql(table: list[list[float]]) -> str:
    """One subspace's k x k dot table as a literal SQL
    array<array<double>> — CAST('<repr>' AS DOUBLE) round-trips each
    float exactly, one parsed expression (the py4j-round-trip lesson
    from _sub_dist_sql)."""
    return "array(" + ", ".join(
        "array(" + ", ".join(
            f"CAST('{float(x)!r}' AS DOUBLE)" for x in row
        ) + ")"
        for row in table
    ) + ")"


def _sdc_sum_sql(tables_sql: list[str], a_code: str, b_code: str) -> str:
    """0.0 + sum over subspaces of tbl[s][a_code[s]][b_code[s]],
    left-to-right — approximate dot(a, b) from codes alone. The
    leading CAST(0.0) pins the fold init so Spark and the oracle's
    list_reduce(list_prepend(0.0, ...)) execute the same adds."""
    terms = " + ".join(
        f"element_at(element_at({tables_sql[s]}, "
        f"element_at({a_code}, {s + 1}) + 1), "
        f"element_at({b_code}, {s + 1}) + 1)"
        for s in range(len(tables_sql))
    )
    return f"(CAST(0.0 AS DOUBLE) + {terms})"


def _pq_screen(ctx, pairs: DataFrame, corpus: DataFrame,
               queries_df: DataFrame, self_knn: bool,
               codebook_df, id_column: str, column: str,
               config: dict[str, Any], k: int) -> DataFrame:
    """The compressed-verify stage: score LSH candidate pairs from
    PQ codes only (SDC — both sides quantized, a broadcast-free
    m-lookup sum per pair) and keep the top ``rerank`` per query for
    the exact cosine re-rank. The candidate shuffle then carries
    (id, m small ints, 1 double) per side instead of the raw vector
    — at 768-dim float embeddings that is ~3 KB -> ~40 B per row —
    and the vector-carrying exact stage shrinks from |candidates| to
    |queries| * rerank rows. Returns the surviving skinny pairs."""
    from conveyor_spark.datapipe.clustering import (
        _clean, _parse_codebooks, _train_pq,
        pq_encoder, vec_ok,
    )

    m = int(config.get("m", 4))
    kw = int(config.get("codewords", 16))
    iterations = int(config.get("iterations", 1))
    rerank = int(config.get("rerank", 4 * k))
    if min(m, kw, iterations) < 1:
        raise ConfigError("knn.lsh: m, codewords, iterations must be >= 1")
    if rerank < k:
        raise ConfigError(
            f"knn.lsh: rerank={rerank} < k={k} — the exact re-rank could "
            "never fill the top-k it is asked for"
        )
    dim = int(config["dim"])

    if codebook_df is not None:
        for dead in ("encode_method", "iterations"):
            if dead in config:
                raise ConfigError(
                    f"knn.lsh: {dead!r} configures the INLINE training/"
                    "encode and has no effect in pretrained mode "
                    "(code_column given) — the corpus is already encoded; "
                    "remove the key"
                )
        codebooks, m, kw, sd, cb_dim = _parse_codebooks(
            ctx, codebook_df, "knn.lsh", config
        )
        if cb_dim != dim:
            raise ConfigError(
                f"knn.lsh: codebooks are for dim {cb_dim}, config says {dim}"
            )
        code_col = config["code_column"]
        if code_col not in corpus.columns:
            raise ConfigError(f"knn.lsh: corpus has no column {code_col!r}")
        # invalid codes (NULL / wrong arity / out-of-range) would read
        # garbage table cells — exclude, same contract as knn.pq
        ccodes = corpus.filter(
            F.col(code_col).isNotNull() & (F.size(code_col) == m)
            & ~F.exists(
                code_col, lambda x: x.isNull() | (x < 0) | (x >= kw)
            )
        ).select(
            F.col(id_column).alias("neighbor_id"),
            F.col(code_col).cast("array<int>").alias("__cc"),
        )
    else:
        if dim % m != 0:
            raise ConfigError(f"knn.lsh: dim {dim} not divisible by m={m}")
        sd = dim // m
        clean, _ = _clean(ctx, corpus, id_column, column, dim, "knn.lsh")
        codebooks, _, _ = _train_pq(ctx, clean, dim, m, kw, iterations,
                                    op="knn.lsh")
        # the one encode engine, a scalar Arrow UDF over the vectors:
        # bit-exact with the training fold (q161's oracle proves it);
        # the JVM fold is an interpreted HOF at ~ms/row
        ccodes = clean.select(
            F.col("__kid").alias("neighbor_id"),
            pq_encoder(codebooks, m, sd)("__v").alias("__cc"),
        )
    if m * kw * kw > 65536:
        raise ConfigError(
            f"knn.lsh: SDC table m*codewords^2 = {m * kw * kw} exceeds the "
            "65536-literal budget — use fewer codewords for the screen "
            "(screen quality buys recall, not correctness; survivors are "
            "re-ranked exactly)"
        )

    tables_sql = [_sdc_table_sql(t) for t in _sdc_tables(codebooks)]
    norm_sql = _sdc_sum_sql(tables_sql, "{c}", "{c}")

    def with_norm(df: DataFrame, ids: str, code: str, nrm: str) -> DataFrame:
        # code-derived norm, one sqrt per ROW (not per pair); zero /
        # NaN approximate norms are undefined cosines, filtered like
        # valid_norm on the exact path
        out = df.selectExpr(
            ids, code,
            f"sqrt({norm_sql.format(c=code)}) AS {nrm}",
        )
        return out.filter(
            F.col(nrm).isNotNull() & ~F.isnan(nrm) & (F.col(nrm) > 0)
        )

    ccodes = with_norm(ccodes, "neighbor_id", "__cc", "__ccn")
    # NOT persisted (r14, reverting an r13 addition): the r13 persist
    # de-duplicated the encode pass between the two sides of the
    # self-join, but on the 32-core gate host it was a
    # materialization barrier — driver bench q161 2.37 -> 5.63 s
    # while the 8-core run stayed flat (VERDICT r13 #1). The encode
    # subtrees execute concurrently without it, which is what the
    # r12 shape (2.37 s) did.
    if self_knn:
        qcodes = ccodes.select(
            F.col("neighbor_id").alias("query_id"),
            F.col("__cc").alias("__qc"),
            F.col("__ccn").alias("__qcn"),
        )
    else:
        # encode the query side against the same codebooks (same
        # engine and tie rules — encode(train set) reproduces the
        # training codes exactly)
        qclean = queries_df.filter(
            vec_ok(F.col(column), dim)
        ).select(F.col(id_column).alias("query_id"), F.col(column).alias("__v"))
        qenc = qclean.select(
            "query_id", pq_encoder(codebooks, m, sd)("__v").alias("__qc"))
        qcodes = with_norm(qenc, "query_id", "__qc", "__qcn")

    scored = (
        pairs.join(qcodes, "query_id")
        .join(ccodes, "neighbor_id")
        .selectExpr(
            "query_id", "neighbor_id",
            f"round({_sdc_sum_sql(tables_sql, '__qc', '__cc')}"
            " / (__qcn * __ccn), 9) AS __approx",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__approx").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= rerank)
        .select("query_id", "neighbor_id")
    )


@register(
    "knn.lsh", kind="transform", min_inputs=1, max_inputs=3,
    doc="Approximate k-NN join via hyperplane-LSH band buckets",
    params=[
        P("id_column", required=True, desc="Row id"),
        P("column", default="embedding", desc="Vector column (array<float>)"),
        P("dim", "integer", required=True, min=1, desc="Vector dimensionality"),
        P("k", "integer", default=10, min=1, desc="Neighbors per query"),
        P("bits", "integer", default=16, min=1, max=63, desc="Signature bits"),
        P("bands", "integer", default=4, min=1, desc="LSH bands"),
        P("max_bucket", "integer", min=1,
          desc="Hot-bucket guard: drop band buckets holding more corpus "
               "rows than this (bounds the candidate join on "
               "duplicate-heavy data; costs recall inside near-dup "
               "clusters)"),
        P("signature_method", default="fold", allowed=("fold", "gemm"),
          desc="Retired: both values run the one Arrow UDF signature "
               "and give identical results"),
        P("widen", "any", default="auto",
          desc="Spread narrow scans before the signature pass"),
        P("verify", default="exact", allowed=("exact", "pq"),
          desc="exact: cosine every candidate (vectors ride the "
               "candidate shuffle); pq: SDC-score candidates from PQ "
               "codes, exact re-rank only the top 'rerank' per query "
               "— the 100 TB candidate-stream-width cut"),
        P("rerank", "integer", min=1,
          desc="verify=pq: survivors per query for the exact re-rank "
               "(default 4*k; recall knob)"),
        P("m", "integer", min=1, desc="verify=pq: PQ subspaces (default 4)"),
        P("codewords", "integer", min=1,
          desc="verify=pq: codewords per subspace (default 16)"),
        P("iterations", "integer", min=1,
          desc="verify=pq inline training: Lloyd iterations (default 1 "
               "— the screen orders candidates, survivors are exact)"),
        P("encode_method", default="fold", allowed=("fold", "gemm"),
          desc="Retired (verify=pq inline mode): both values run the "
               "one Arrow UDF encode and give identical results"),
        P("code_column",
          desc="verify=pq: corpus is PRE-ENCODED (embedding.pq "
               "output='codes'); requires the codebooks LAST input — "
               "the train-once deployment where corpus vectors load "
               "only for survivors"),
    ],
    example={"id_column": "id", "dim": 64, "k": 10},
    tags=["similarity", "knn", "lsh", "datapipe"],
)
def knn_lsh(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """The BOTH-SIDES-LARGE ANN path (knn.brute broadcasts the query
    side; knn.ivf needs a pre-bucketed corpus): hyperplane signatures
    band into buckets, candidates come from an EQUI-join on
    (band_index, band_value), and only candidates get the exact
    cosine + per-query top-k. Same banded-LSH shape as dedup.minhash
    — nothing broadcasts, nothing is quadratic; recall is tuned by
    bits/bands (more bands = more candidates = higher recall).

    inputs: [corpus] (self-kNN, self-pairs excluded) or
    [corpus, queries]. Config: id_column (required), column
    (default embedding), k (default 10), dim (required — the
    embedding length; deterministic planes need it), bits (default
    16), bands (default 4; bits % bands == 0).

    Output: (query_id, neighbor_id, cosine, rank) — cosine rounded
    to 6 (accumulated-float noise; NOTES.md determinism rules).

    verify="pq" inserts a compressed screen between the candidate
    join and the exact cosine: candidates are scored from PQ codes
    (SDC: a per-pair sum of m codeword-dot table lookups; the table
    is m*k*k doubles built driver-side) and only the top ``rerank``
    per query join the raw vectors. Inline mode trains the codebooks
    on the corpus (embedding.pq's recipe, default 1 Lloyd iteration
    — the screen only ORDERS candidates; exactness comes from the
    re-rank); code_column + a codebooks last input is the pretrained
    deployment where the corpus vector column loads only for
    survivors. Codes come from clustering.pq_encoder (one scalar
    Arrow UDF per side); ``encode_method`` is retired: "fold" and
    "gemm" both run it. Fully oracle-replayable (q161).

    Signatures come from emb_lsh.signature_udf, embedding.lsh's own
    engine; ``signature_method`` is retired: "fold" and "gemm" both
    run it.
    """
    corpus = inputs[0]
    id_column = config.get("id_column")
    column = config.get("column", "embedding")
    k = int(config.get("k", 10))
    verify = config.get("verify", "exact")
    codebook_df = None
    data_inputs = list(inputs)
    if verify == "pq":
        if config.get("code_column") is not None:
            if len(inputs) < 2:
                raise ConfigError(
                    "knn.lsh: code_column requires the codebooks table as "
                    "the last input (embedding.pq output='codebooks')"
                )
            codebook_df = inputs[-1]
            data_inputs = list(inputs[:-1])
        elif len(inputs) > 2:
            # a third input is only meaningful as the codebooks table,
            # and codebooks are only consumed with code_column set —
            # silently ignoring it would inline-train different
            # codebooks and return different neighbors with no error
            # (the dead-knob loud-failure contract below)
            raise ConfigError(
                "knn.lsh: a third (codebooks) input under verify='pq' "
                "requires 'code_column' (pretrained mode); without it the "
                "codebooks table would be silently ignored and codebooks "
                "inline-trained instead"
            )
    else:
        # the PQ knobs configure the screen that verify='exact' skips
        # entirely — fail loudly rather than let a caller believe a
        # rerank cap or pretrained codes are in effect (the join.fuzzy
        # dead-knob precedent)
        for dead in ("rerank", "m", "codewords", "iterations",
                     "code_column", "encode_method"):
            if dead in config:
                raise ConfigError(
                    f"knn.lsh: {dead!r} configures the verify='pq' screen "
                    "and has no effect with verify='exact'; remove the key "
                    "or set verify='pq'"
                )
        if len(inputs) > 2:
            raise ConfigError(
                "knn.lsh: a third (codebooks) input needs verify='pq' "
                "with code_column"
            )
    dim = config.get("dim")
    bits = int(config.get("bits", 16))
    bands = int(config.get("bands", 4))
    if bits % bands != 0:
        raise ConfigError("knn.lsh: bits must be divisible by bands")
    width = bits // bands

    from conveyor_spark.datapipe.dedup import widen
    from conveyor_spark.datapipe.emb_lsh import signature_udf

    signature = signature_udf(bits, int(dim))

    def banded(df: DataFrame, ids: str, bcol: str) -> DataFrame:
        """SKINNY band rows: (id, band-bucket) only. The 64-float
        vectors do NOT ride the band explode / candidate join / pair
        dedup — at scale that would shuffle ~0.5 KB per candidate; ids
        alone are ~16 bytes. Vectors attach to the deduped pairs via
        two id-keyed equi-joins below. The signature is the one Arrow
        UDF (emb_lsh.signature_udf) over a widened scan; a NULL
        signature (NULL, wrong-length or NULL-element vector) has no
        bucket."""
        sig = widen(ctx, df, config).select(
            F.col(id_column).alias(ids),
            signature(F.col(column)).alias("__sig"),
        ).filter(F.col("__sig").isNotNull())
        bandvals = F.array(*[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("__sig"), j * width).bitwiseAND(
                    F.lit(2**width - 1)
                ).alias("val"),
            )
            for j in range(bands)
        ])
        return sig.select(ids, F.explode(bandvals).alias(bcol))

    queries_df = data_inputs[1] if len(data_inputs) > 1 else corpus
    self_knn = len(data_inputs) == 1
    c = banded(corpus, "neighbor_id", "__cb")
    if (max_bucket := config.get("max_bucket")) is not None:
        # Hot-bucket guard (same role as dedup.ngram_jaccard's max_df):
        # a band bucket holding d corpus rows contributes d candidates
        # PER QUERY in it — duplicate-heavy corpora concentrate into a
        # few buckets and the candidate join goes quadratic. Dropping
        # buckets above the cap bounds the join at the cost of recall
        # for items whose every bucket is hot (near-duplicate clusters
        # — resolve those with dedup.minhash first). The count rides
        # a window over the already-skinny (id, bucket) rows.
        wb = Window.partitionBy("__cb")
        c = (
            c.withColumn("__bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bn") <= int(max_bucket))
            .drop("__bn")
        )
    if self_knn and verify != "pq":
        # the query side IS the corpus band frame relabeled — without
        # persist the whole signature pass (the Arrow UDF) and the
        # hot-bucket window run TWICE, once per side of the candidate
        # self-join. Skinny (id, band) rows (r13). EXACT-verify only
        # (r14): on the verify='pq' path this persist stacked with
        # the screen's into a 32-core
        # materialization-barrier regression on the gate host
        # (q161 2.37 -> 5.63 s, 8-core flat — VERDICT r13 #1), so
        # that path reverts to its r12 shape; q68/q152 (exact) kept
        # this persist through the r13 gate with no regression.
        c = ctx.persist(c)
    q = (
        banded(queries_df, "query_id", "__qb") if not self_knn
        else c.select(F.col("neighbor_id").alias("query_id"), F.col("__cb").alias("__qb"))
    )
    pairs = (
        q.join(c, on=F.col("__qb") == F.col("__cb"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a pair met in several bands is ONE candidate
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id")
    )
    if verify == "pq":
        # compressed screen: the full candidate set is scored from
        # m-byte codes; only |queries| * rerank pairs reach the
        # vector joins below
        pairs = _pq_screen(ctx, pairs, corpus, queries_df, self_knn,
                           codebook_df, id_column, column, config, k)
    qvec = queries_df.select(
        F.col(id_column).alias("query_id"),
        F.col(column).alias("__qv"),
        norm_expr(F.col(column)).alias("__qvn"),
    ).filter(valid_norm(F.col("__qvn")))
    cvec = corpus.select(
        F.col(id_column).alias("neighbor_id"),
        F.col(column).alias("__cv"),
        norm_expr(F.col(column)).alias("__cvn"),
    ).filter(valid_norm(F.col("__cvn")))
    scored = (
        pairs.join(qvec, "query_id")
        .join(cvec, "neighbor_id")
        .withColumn(
            "cosine",
            F.round(pair_cosine(F.col("__qv"), F.col("__cv"),
                                F.col("__qvn"), F.col("__cvn")), 6),
        )
        # drop the vectors BEFORE the per-query top-k window — its
        # shuffle only needs (query_id, neighbor_id, cosine)
        .select("query_id", "neighbor_id", "cosine")
    )
    return _topk(scored, k)
