"""embedding.kmeans (clustering.py) against a plain-Python Lloyd's
reference with the identical init / quantization / tie rules."""

from __future__ import annotations

import math

import pytest

from conveyor_spark.errors import ConfigError
from tests.conftest import run_op

Q = 1048576.0

# passthrough columns the encode ops must carry unchanged (types
# an Arrow round-trip would have to handle; only the vector crosses)
PASSTHROUGH = (
    "map('k', vec_id) AS t_map",
    "named_struct('a', vec_id, 'b', 'x') AS t_struct",
    "CAST(vec_id AS DECIMAL(20, 4)) AS t_decimal",
    "CAST('ab' AS BINARY) AS t_binary",
    "NULL AS t_null",
    "INTERVAL '1 02:03:04' DAY TO SECOND AS t_daytime",
    "parse_json('{\"a\": 1}') AS t_variant",
    "TIMESTAMP_NTZ '2020-01-01 00:00:00' AS t_ntz",
    "array(map('k', 1)) AS t_arr_map",
)


def rows_as_text(df):
    # str() per cell: VariantVal has no value equality
    return sorted(tuple(map(str, r)) for r in df.collect())


def py_kmeans(vecs: dict[int, list[float]], k: int, iterations: int):
    ids = sorted(vecs)
    centroids = [list(map(float, vecs[i])) for i in ids[:k]]
    assign = {}
    for _ in range(iterations):
        assign = {}
        for i in ids:
            dists = [
                sum((x - c) * (x - c) for x, c in zip(vecs[i], cent))
                for cent in centroids
            ]
            assign[i] = dists.index(min(dists))
        new_c = [list(c) for c in centroids]
        for j in range(k):
            members = [i for i in ids if assign[i] == j]
            if not members:
                continue
            for d in range(len(centroids[j])):
                s = sum(math.floor(vecs[i][d] * Q) for i in members)
                new_c[j][d] = s / (Q * len(members))
        centroids = new_c
    sizes = [sum(1 for i in ids if assign[i] == j) for j in range(k)]
    return assign, centroids, sizes


@pytest.fixture(scope="module")
def vecs():
    # two obvious blobs + one outlier, dim 4
    data = {
        1: [0.1, 0.2, 0.1, 0.0],
        2: [0.2, 0.1, 0.0, 0.1],
        3: [0.15, 0.15, 0.05, 0.05],
        4: [5.0, 5.1, 4.9, 5.0],
        5: [5.1, 5.0, 5.0, 4.9],
        6: [-3.0, -3.0, -3.0, -3.0],
    }
    return data


@pytest.fixture(scope="module")
def vdf(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in vecs.items()]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_kmeans_matches_python_reference(ctx, vdf, vecs):
    # float32 storage: quantize the python reference's inputs the same
    import numpy as np

    v32 = {i: [float(np.float32(x)) for x in v] for i, v in vecs.items()}
    for k, iters in ((2, 3), (3, 2), (2, 1)):
        exp_assign, exp_cent, exp_sizes = py_kmeans(v32, k, iters)
        out = run_op(ctx, "embedding.kmeans", [vdf], id_column="vec_id",
                     k=k, iterations=iters)
        got = {r["vec_id"]: r["cluster"] for r in out.collect()}
        assert got == exp_assign, (k, iters)

        cent = run_op(ctx, "embedding.kmeans", [vdf], id_column="vec_id",
                      k=k, iterations=iters, output="centroids")
        crows = {r["cluster"]: (r["centroid"], r["size"])
                 for r in cent.collect()}
        assert len(crows) == k
        for j in range(k):
            assert crows[j][1] == exp_sizes[j]
            for a, b in zip(crows[j][0], exp_cent[j]):
                assert a == pytest.approx(b, abs=1e-12)


def test_kmeans_blobs_separate(ctx, vdf):
    out = run_op(ctx, "embedding.kmeans", [vdf], id_column="vec_id",
                 k=3, iterations=5)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5]
    assert len({got[1], got[4], got[6]}) == 3


def test_kmeans_dirty_vectors_get_null(ctx, spark):
    rows = [
        (1, [0.0, 0.0]), (2, [1.0, 1.0]),
        (3, None), (4, [1.0]), (5, [0.5, None]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = run_op(ctx, "embedding.kmeans", [df], id_column="vec_id",
                 k=2, iterations=1)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert got[1] is not None and got[2] is not None
    assert got[3] is None and got[4] is None and got[5] is None


def test_kmeans_config_errors(ctx, vdf, spark):
    with pytest.raises(ConfigError, match="id_column"):
        run_op(ctx, "embedding.kmeans", [vdf], k=2)
    with pytest.raises(ConfigError, match="'k'"):
        run_op(ctx, "embedding.kmeans", [vdf], id_column="vec_id")
    with pytest.raises(ConfigError, match="usable vectors"):
        run_op(ctx, "embedding.kmeans", [vdf], id_column="vec_id", k=99)
    with pytest.raises(ConfigError, match="no column"):
        run_op(ctx, "embedding.kmeans", [vdf], id_column="vec_id", k=2,
               column="nope")
    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    with pytest.raises(ConfigError, match="no non-null vectors"):
        run_op(ctx, "embedding.kmeans", [empty], id_column="vec_id", k=1)


def py_pq(vecs: dict[int, list[float]], m: int, kw: int, iterations: int):
    """Plain-Python PQ trainer+encoder mirroring clustering.py."""
    dim = len(next(iter(vecs.values())))
    sd = dim // m
    ids = sorted(vecs)
    cbs = [
        [[float(x) for x in vecs[i][s * sd:(s + 1) * sd]] for i in ids[:kw]]
        for s in range(m)
    ]

    def assign():
        out = {}
        for i in ids:
            code = []
            for s in range(m):
                sv = vecs[i][s * sd:(s + 1) * sd]
                dists = [
                    sum((x - c) * (x - c) for x, c in zip(sv, cb))
                    for cb in cbs[s]
                ]
                code.append(dists.index(min(dists)))
            out[i] = code
        return out

    for _ in range(iterations):
        codes = assign()
        new = [[list(c) for c in cbs[s]] for s in range(m)]
        for s in range(m):
            for j in range(kw):
                members = [i for i in ids if codes[i][s] == j]
                if not members:
                    continue
                for d in range(sd):
                    tot = sum(
                        math.floor(vecs[i][s * sd + d] * Q) for i in members
                    )
                    new[s][j][d] = tot / (Q * len(members))
        cbs = new
    return cbs, assign()


@pytest.fixture(scope="module")
def pqdf(spark):
    import numpy as np

    rows = [
        (i, [float(np.float32(math.sin(i * 7 + d) / 2)) for d in range(8)])
        for i in range(20)
    ]
    return (
        spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>"),
        {i: v for i, v in rows},
    )


def test_pq_codes_match_python(ctx, pqdf):
    df, vecs = pqdf
    exp_cbs, exp_codes = py_pq(vecs, m=2, kw=3, iterations=2)
    out = run_op(ctx, "embedding.pq", [df], id_column="vec_id",
                 m=2, k=3, iterations=2)
    got = {r["vec_id"]: list(r["pq_code"]) for r in out.collect()}
    assert got == exp_codes

    cb = run_op(ctx, "embedding.pq", [df], id_column="vec_id",
                m=2, k=3, iterations=2, output="codebooks")
    got_cb = {(r["subspace"], r["code"]): r["centroid"] for r in cb.collect()}
    assert len(got_cb) == 6
    for s in range(2):
        for j in range(3):
            for a, b in zip(got_cb[(s, j)], exp_cbs[s][j]):
                assert a == pytest.approx(b, abs=1e-12), (s, j)


def test_knn_pq_adc_matches_python(ctx, pqdf):
    df, vecs = pqdf
    cbs, codes = py_pq(vecs, m=2, kw=3, iterations=2)
    sd = 4

    def adc(qv, code):
        return round(sum(
            sum((x - c) * (x - c)
                for x, c in zip(qv[s * sd:(s + 1) * sd], cbs[s][code[s]]))
            for s in range(2)
        ), 9)

    q = df.filter("vec_id < 2")
    out = run_op(ctx, "knn.pq", [df, q], id_column="vec_id",
                 k=4, m=2, codewords=3, iterations=2)
    rows = out.collect()
    assert {r["query_vec_id"] for r in rows} == {0, 1}
    for r in rows:
        exp = adc(vecs[r["query_vec_id"]], codes[r["vec_id"]])
        assert r["adc_dist"] == pytest.approx(exp, abs=1e-9)
    # rank 1 = the globally smallest ADC distance for that query
    for qid in (0, 1):
        all_d = sorted(
            (adc(vecs[qid], codes[i]), i) for i in vecs
        )
        top = [r for r in rows if r["query_vec_id"] == qid and r["rank"] == 1]
        assert (top[0]["adc_dist"], top[0]["vec_id"]) == \
            (pytest.approx(all_d[0][0], abs=1e-9), all_d[0][1])


def test_pq_config_errors(ctx, pqdf):
    df, _ = pqdf
    with pytest.raises(ConfigError, match="divisible"):
        run_op(ctx, "embedding.pq", [df], id_column="vec_id", m=3)
    with pytest.raises(ConfigError, match="only"):
        run_op(ctx, "embedding.pq", [df], id_column="vec_id", m=2, k=99)
    with pytest.raises(ConfigError, match="no column"):
        run_op(ctx, "embedding.pq", [df], id_column="vec_id", column="x")
    # review findings: knn.pq must ConfigError (not ZeroDivisionError /
    # AnalysisException) on m=0 and on missing columns either side
    with pytest.raises(ConfigError, match=">= 1"):
        run_op(ctx, "knn.pq", [df, df], id_column="vec_id", m=0)
    with pytest.raises(ConfigError, match="corpus has no column"):
        run_op(ctx, "knn.pq", [df.drop("embedding"), df],
               id_column="vec_id")
    with pytest.raises(ConfigError, match="queries has no column"):
        run_op(ctx, "knn.pq", [df, df.drop("embedding")],
               id_column="vec_id")


def test_knn_pq_pretrained_equals_integrated(ctx, pqdf):
    """Train-once-search-many: embedding.pq's codes + codebooks fed
    to knn.pq must reproduce the integrated train+search path
    exactly."""
    df, _ = pqdf
    q = df.filter("vec_id < 2")
    cfg = dict(m=2, codewords=3, iterations=2)
    integrated = run_op(ctx, "knn.pq", [df, q], id_column="vec_id",
                        k=4, **cfg)
    encoded = run_op(ctx, "embedding.pq", [df], id_column="vec_id",
                     m=2, k=3, iterations=2)
    books = run_op(ctx, "embedding.pq", [df], id_column="vec_id",
                   m=2, k=3, iterations=2, output="codebooks")
    pretrained = run_op(ctx, "knn.pq", [encoded, q, books],
                        id_column="vec_id", code_column="pq_code", k=4)
    a = sorted(map(tuple, integrated.collect()), key=lambda t: (t[0], t[3]))
    b = sorted(map(tuple, pretrained.collect()), key=lambda t: (t[0], t[3]))
    assert a == b and a
    # config errors: code_column without codebooks, and vice versa
    with pytest.raises(ConfigError, match="BOTH"):
        run_op(ctx, "knn.pq", [encoded, q], id_column="vec_id",
               code_column="pq_code")
    with pytest.raises(ConfigError, match="BOTH"):
        run_op(ctx, "knn.pq", [df, q, books], id_column="vec_id")
    with pytest.raises(ConfigError, match="codebooks input"):
        run_op(ctx, "knn.pq", [encoded, q, q], id_column="vec_id",
               code_column="pq_code")


def test_pq_encode_reproduces_training_codes(ctx, pqdf, spark):
    """embedding.pq_encode against the trained codebooks must stamp
    the training corpus with embedding.pq's own codes — and reject
    invalid codebooks / conflicting config loudly."""
    df, _ = pqdf
    books = run_op(ctx, "embedding.pq", [df], id_column="vec_id",
                   m=2, k=3, iterations=2, output="codebooks")
    direct = {r["vec_id"]: list(r["pq_code"]) for r in run_op(
        ctx, "embedding.pq", [df], id_column="vec_id",
        m=2, k=3, iterations=2).collect()}
    encoded = {r["vec_id"]: list(r["pq_code"]) for r in run_op(
        ctx, "embedding.pq_encode", [df, books],
        id_column="vec_id").collect()}
    assert encoded == direct

    with pytest.raises(ConfigError, match="conflicts"):
        run_op(ctx, "embedding.pq_encode", [df, books],
               id_column="vec_id", m=4)
    bad = spark.createDataFrame(
        [(0, 0, None), (1, 0, [0.0] * 4)],
        "subspace INT, code INT, centroid ARRAY<DOUBLE>")
    with pytest.raises(ConfigError, match="NULL centroids"):
        run_op(ctx, "embedding.pq_encode", [df, bad], id_column="vec_id")
    ragged = spark.createDataFrame(
        [(0, 0, [0.0] * 4), (1, 0, [0.0] * 3)],
        "subspace INT, code INT, centroid ARRAY<DOUBLE>")
    with pytest.raises(ConfigError, match="mixed lengths"):
        run_op(ctx, "embedding.pq_encode", [df, ragged],
               id_column="vec_id")


def test_knn_pq_rejects_corrupt_codes(ctx, pqdf, spark):
    """Review finding: NULL / out-of-range code elements dropped out
    of the distance-table join and the PARTIAL ADC sum outranked
    genuine neighbors — such rows must be excluded entirely."""
    df, _ = pqdf
    books = run_op(ctx, "embedding.pq", [df], id_column="vec_id",
                   m=2, k=3, iterations=2, output="codebooks")
    encoded = run_op(ctx, "embedding.pq_encode", [df, books],
                     id_column="vec_id")
    corrupt = encoded.selectExpr(
        "vec_id", "embedding",
        "CASE WHEN vec_id = 5 THEN array(0, CAST(NULL AS INT)) "
        "     WHEN vec_id = 6 THEN array(0, 99) "
        "     ELSE pq_code END AS pq_code")
    q = df.filter("vec_id < 1")
    out = run_op(ctx, "knn.pq", [corrupt, q, books], id_column="vec_id",
                 code_column="pq_code", k=100)
    ids = {r["vec_id"] for r in out.collect()}
    assert 5 not in ids and 6 not in ids
    assert len(ids) == 18  # the other 18 of 20 rows all scored


def test_dim_inference_is_deterministic(ctx, spark):
    """Review finding: dim inference must come from the SMALLEST id's
    vector, not an unordered first() — on mixed-length corpora the
    inferred dim decides which rows survive cleaning."""
    rows = [(1, [0.0, 0.0]), (2, [1.0, 1.0, 1.0]), (3, [2.0, 2.0])]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    for n in (1, 3):
        out = run_op(ctx, "embedding.kmeans", [df.repartition(n)],
                     id_column="vec_id", k=2, iterations=1)
        got = {r["vec_id"]: r["cluster"] for r in out.collect()}
        # dim = 2 (vector of id 1): id 2's 3-vector is cleaned out
        assert got[2] is None and got[1] is not None and got[3] is not None


def test_kmeans_partitioning_invariance(ctx, vdf):
    """The module's core claim: floor-quantized int64 centroid sums
    make results independent of partitioning — MLlib's double sums
    are not. Same assignments from 1 partition and 7."""
    base = {r["vec_id"]: r["cluster"] for r in run_op(
        ctx, "embedding.kmeans", [vdf.repartition(1)],
        id_column="vec_id", k=3, iterations=4).collect()}
    for n in (3, 7):
        got = {r["vec_id"]: r["cluster"] for r in run_op(
            ctx, "embedding.kmeans", [vdf.repartition(n)],
            id_column="vec_id", k=3, iterations=4).collect()}
        assert got == base, n


def test_pq_partitioning_invariance(ctx, pqdf):
    df, _ = pqdf
    base = {r["vec_id"]: list(r["pq_code"]) for r in run_op(
        ctx, "embedding.pq", [df.repartition(1)], id_column="vec_id",
        m=2, k=3, iterations=3).collect()}
    got = {r["vec_id"]: list(r["pq_code"]) for r in run_op(
        ctx, "embedding.pq", [df.repartition(5)], id_column="vec_id",
        m=2, k=3, iterations=3).collect()}
    assert got == base


def test_kmeans_feeds_knn_ivf(ctx, vdf):
    """The op's stated purpose: assignments become knn.ivf's bucket
    column."""
    clustered = run_op(ctx, "embedding.kmeans", [vdf], id_column="vec_id",
                       k=2, iterations=2, output_column="ivf_cell")
    assert "ivf_cell" in clustered.columns
    out = run_op(ctx, "knn.ivf", [clustered],
                 id_column="vec_id", column="embedding",
                 bucket_column="ivf_cell", k=1)
    assert out.count() > 0


def test_nan_vectors_invalid_across_centroid_family(ctx, spark):
    # review r10 (pca precedent): a NaN coordinate silently biased
    # centroid/codeword stats (NaN distances + sum-skips-NULL after
    # quantization). NaN-bearing vectors are now invalid like
    # NULL-holding ones in kmeans, pq train/encode and knn.pq.
    rows = [(i, [float(i + d) for d in range(4)]) for i in range(12)]
    rows.append((99, [1.0, float("nan"), 2.0, 3.0]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    km = run_op(ctx, "embedding.kmeans", [df], id_column="vec_id",
                k=2, iterations=2)
    got = {r["vec_id"]: r["cluster"] for r in km.collect()}
    assert got[99] is None and got[0] is not None

    books = run_op(ctx, "embedding.pq", [df], id_column="vec_id",
                   m=2, k=2, iterations=1, output="codebooks")
    import math
    for r in books.collect():
        assert all(not math.isnan(x) for x in r["centroid"])
    enc = run_op(ctx, "embedding.pq_encode", [df, books],
                 id_column="vec_id")
    codes = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
    assert codes[99] is None and codes[0] is not None

    q = df.filter("vec_id IN (99, 1)")
    out = run_op(ctx, "knn.pq", [df, q], id_column="vec_id",
                 m=2, k=2, codewords=2, iterations=1)
    qcol = [c for c in out.columns if c.startswith("query")][0]
    qids = {r[qcol] for r in out.collect()}
    assert 99 not in qids and 1 in qids


def fold_codes(ctx, df, m: int, k: int, iterations: int) -> dict:
    """{vec_id: code} from _train_pq's post-loop fold assign over
    ``df`` — the JVM encode that stays in the runtime (knn.pq inline
    mode), the reference for the Arrow encode."""
    from pyspark.sql import functions as F

    from conveyor_spark.datapipe.clustering import _clean, _train_pq

    clean, dim = _clean(ctx, df, "vec_id", "embedding", None, "embedding.pq")
    _, _, encoded = _train_pq(ctx, clean, dim, m, k, iterations)
    return {r["__kid"]: tuple(r["c"]) for r in encoded.select(
        "__kid", F.array(*[f"__c{s}" for s in range(m)]).alias("c")
    ).collect()}


def test_pq_encode_gemm_matches_fold_with_invalid_rows(ctx, pqdf, spark):
    """embedding.pq_encode reproduces the training fold's codes on
    every valid row, and stamps NULL on each vec_ok-invalid row (NULL
    vector, wrong length, NaN/Inf/NULL element; pinned rows). Both
    retired encode_method values return the same frame."""
    df, _ = pqdf
    books = run_op(ctx, "embedding.pq", [df], id_column="vec_id",
                   m=2, k=3, iterations=2, output="codebooks")
    adversarial = spark.createDataFrame(
        [
            (100, None),
            (101, [0.1] * 7),                      # wrong length
            (102, [float("nan")] + [0.1] * 7),     # NaN element
            (103, [float("inf")] + [0.1] * 7),     # Inf element
            (104, [None] + [0.1] * 7),             # NULL element
            (105, [0.0] * 8),                      # valid all-zero
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    full = df.unionByName(adversarial)
    got = {r["vec_id"]: (None if r["pq_code"] is None
                         else tuple(r["pq_code"]))
           for r in run_op(ctx, "embedding.pq_encode", [full, books],
                           id_column="vec_id").collect()}
    ref = fold_codes(ctx, df, m=2, k=3, iterations=2)
    assert len(ref) == 20 and {i: got[i] for i in ref} == ref
    assert {i: got[i] for i in range(100, 105)} == dict.fromkeys(
        range(100, 105))
    assert len(got[105]) == 2
    # non-vector columns ride along unchanged, in their input order,
    # under every encode_method value
    extra = df.selectExpr("vec_id", "embedding",
                          "concat('tag', vec_id) AS tag", *PASSTHROUGH)
    a = run_op(ctx, "embedding.pq_encode", [extra, books],
               id_column="vec_id")
    assert a.columns == extra.columns + ["pq_code"]
    for method in ("fold", "gemm"):
        b = run_op(ctx, "embedding.pq_encode", [extra, books],
                   id_column="vec_id", encode_method=method)
        assert b.columns == a.columns
        assert rows_as_text(a) == rows_as_text(b), method


def test_embedding_pq_codes_gemm_matches_fold(ctx, pqdf):
    """embedding.pq output='codes' equals the training fold's own
    post-loop assign, under both retired encode_method values.
    encode_method is dead config under output='codebooks'."""
    df, _ = pqdf
    ref = fold_codes(ctx, df, m=2, k=3, iterations=2)
    assert len(ref) == 20
    for method in ("fold", "gemm"):
        out = run_op(ctx, "embedding.pq", [df], id_column="vec_id",
                     m=2, k=3, iterations=2, encode_method=method)
        assert out.columns == df.columns + ["pq_code"]
        got = {r["vec_id"]: tuple(r["pq_code"]) for r in out.collect()}
        assert got == ref, method
    with pytest.raises(ConfigError, match="output='codes'"):
        run_op(ctx, "embedding.pq", [df], id_column="vec_id",
               m=2, k=3, output="codebooks", encode_method="gemm")


def test_embedding_pq_codes_with_year_month_interval_id(ctx, pqdf):
    """A year-month interval id never crosses Arrow: embedding.pq
    output='codes' keeps it and gives the codes of integer ids."""
    df, _ = pqdf
    iv = df.selectExpr("make_ym_interval(CAST(vec_id AS INT), 0) AS vec_id",
                       "embedding")
    out = run_op(ctx, "embedding.pq", [iv], id_column="vec_id",
                 m=2, k=3, iterations=2, encode_method="gemm")
    assert out.schema["vec_id"] == iv.schema["vec_id"]
    got = {r[0]: tuple(r[1]) for r in out.selectExpr(
        "extract(YEAR FROM vec_id)", "pq_code").collect()}
    assert got == fold_codes(ctx, df, m=2, k=3, iterations=2)


def test_encode_keeps_scratch_named_columns(ctx, pqdf):
    """Input columns named like the retired fold projections' scratch
    columns (__pqd0, __acdist, __acell) come out of pq_encode and
    assign_cells unchanged, next to the codes of the plain frame."""
    df, _ = pqdf
    books = run_op(ctx, "embedding.pq", [df], id_column="vec_id",
                   m=2, k=3, iterations=2, output="codebooks")
    cents = run_op(ctx, "embedding.kmeans", [df], id_column="vec_id",
                   k=3, iterations=1, output="centroids")
    scratch = df.selectExpr("vec_id", "embedding", "vec_id * 10 AS __pqd0",
                            "vec_id * 100 AS __acdist",
                            "vec_id * 1000 AS __acell")
    for op, table, cfg, out in (
        ("embedding.pq_encode", books, {"id_column": "vec_id"}, "pq_code"),
        ("embedding.assign_cells", cents, {}, "cell"),
    ):
        plain = {r["vec_id"]: r[out] for r in run_op(
            ctx, op, [df, table], **cfg).collect()}
        got = run_op(ctx, op, [scratch, table], **cfg)
        assert got.columns == scratch.columns + [out], op
        rows = got.collect()
        assert len(rows) == 20 and all(r[out] is not None for r in rows)
        for r in rows:
            i = r["vec_id"]
            assert (r["__pqd0"], r["__acdist"], r["__acell"], r[out]) == \
                (10 * i, 100 * i, 1000 * i, plain[i]), op


def test_encode_udf_runs_once_per_row(ctx, pqdf):
    """A consumer's filter on the codes (knn.pq's validity guard)
    must not push a second copy of the encode UDF below the
    projection: one ArrowEvalPython node, so one encode per row."""
    df, _ = pqdf
    books = run_op(ctx, "embedding.pq", [df], id_column="vec_id",
                   m=2, k=3, iterations=2, output="codebooks")
    enc = run_op(ctx, "embedding.pq_encode", [df, books],
                 id_column="vec_id")
    plan = enc.filter("size(pq_code) = 2")._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


@pytest.fixture(scope="module")
def ivfpq(ctx, pqdf):
    """Pretrained IVFPQ artifacts over the pqdf corpus: stamped
    corpus (ivf_cell + pq_code), centroids, codebooks. kmeans assign
    at iterations=2 ranks cells under the SAME quantizer that
    output='centroids' at iterations=1 exports (assign mode skips the
    final update) — the consistency contract q163 documents."""
    df, _ = pqdf
    cells = run_op(ctx, "embedding.kmeans", [df], id_column="vec_id",
                   k=3, iterations=2, output_column="ivf_cell")
    cents = run_op(ctx, "embedding.kmeans", [df], id_column="vec_id",
                   k=3, iterations=1, output="centroids")
    books = run_op(ctx, "embedding.pq", [df], id_column="vec_id",
                   m=2, k=3, iterations=2, output="codebooks")
    enc = run_op(ctx, "embedding.pq_encode", [cells, books],
                 id_column="vec_id")
    return enc, cents, books


def test_knn_ivfpq_all_cells_equals_flat_pq(ctx, pqdf, ivfpq):
    """Probing every cell = scanning every code: nprobe >= n_cells
    must reproduce flat knn.pq pretrained exactly."""
    df, _ = pqdf
    enc, cents, books = ivfpq
    q = df.filter("vec_id < 3")
    ivf = run_op(ctx, "knn.ivfpq", [enc, q, cents, books],
                 id_column="vec_id", cell_column="ivf_cell",
                 code_column="pq_code", k=4, nprobe=3)
    flat = run_op(ctx, "knn.pq", [enc, q, books], id_column="vec_id",
                  code_column="pq_code", k=4)
    a = sorted(map(tuple, ivf.collect()))
    b = sorted(map(tuple, flat.collect()))
    assert a == b and len(a) == 12


def test_knn_ivfpq_nprobe1_scans_only_nearest_cell(ctx, pqdf, ivfpq):
    """nprobe=1: every returned neighbor must live in the query's
    nearest cell (membership computed independently in python)."""
    df, vecs = pqdf
    enc, cents, books = ivfpq
    centroids = {r["cluster"]: list(r["centroid"])
                 for r in cents.collect()}
    cell_of = {r["vec_id"]: r["ivf_cell"]
               for r in enc.select("vec_id", "ivf_cell").collect()}
    q = df.filter("vec_id < 4")
    out = run_op(ctx, "knn.ivfpq", [enc, q, cents, books],
                 id_column="vec_id", cell_column="ivf_cell",
                 code_column="pq_code", k=100, nprobe=1)
    rows = out.collect()
    assert rows
    for qid in {r["query_vec_id"] for r in rows}:
        dists = sorted(
            (sum((x - c) * (x - c)
                 for x, c in zip(vecs[qid], centroids[j])), j)
            for j in centroids
        )
        best = dists[0][1]
        got = {r["vec_id"] for r in rows if r["query_vec_id"] == qid}
        expected = {i for i, c in cell_of.items() if c == best}
        assert got == expected, qid  # k=100 > cell size: the WHOLE cell


def test_knn_ivfpq_excludes_corrupt_codes_and_null_cells(ctx, pqdf, ivfpq):
    df, _ = pqdf
    enc, cents, books = ivfpq
    corrupt = enc.selectExpr(
        "vec_id", "embedding",
        "CASE WHEN vec_id = 5 THEN CAST(NULL AS INT) "
        "     ELSE ivf_cell END AS ivf_cell",
        "CASE WHEN vec_id = 6 THEN array(0, 99) "
        "     WHEN vec_id = 7 THEN array(0, CAST(NULL AS INT)) "
        "     ELSE pq_code END AS pq_code")
    q = df.filter("vec_id < 1")
    out = run_op(ctx, "knn.ivfpq", [corrupt, q, cents, books],
                 id_column="vec_id", cell_column="ivf_cell",
                 code_column="pq_code", k=100, nprobe=3)
    ids = {r["vec_id"] for r in out.collect()}
    assert ids == set(range(20)) - {5, 6, 7}


def test_knn_ivfpq_config_errors(ctx, pqdf, ivfpq, spark):
    df, _ = pqdf
    enc, cents, books = ivfpq
    q = df.filter("vec_id < 1")
    base = dict(id_column="vec_id", cell_column="ivf_cell",
                code_column="pq_code")
    with pytest.raises(ConfigError, match="cell_column"):
        run_op(ctx, "knn.ivfpq", [enc, q, cents, books],
               id_column="vec_id", code_column="pq_code")
    with pytest.raises(ConfigError, match="corpus has no column"):
        run_op(ctx, "knn.ivfpq", [enc.drop("ivf_cell"), q, cents, books],
               **base)
    with pytest.raises(ConfigError, match="centroids input has no column"):
        run_op(ctx, "knn.ivfpq", [enc, q, books, books], **base)
    with pytest.raises(ConfigError, match="centroids input is empty"):
        run_op(ctx, "knn.ivfpq", [enc, q, cents.filter("cluster < 0"),
                                  books], **base)
    with pytest.raises(ConfigError, match="contiguous"):
        run_op(ctx, "knn.ivfpq", [enc, q, cents.filter("cluster <> 1"),
                                  books], **base)
    wrongdim = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [1.0] * 4)],
        "cluster INT, centroid ARRAY<DOUBLE>")
    with pytest.raises(ConfigError, match="centroid dims"):
        run_op(ctx, "knn.ivfpq", [enc, q, wrongdim, books], **base)
    with pytest.raises(ConfigError, match=">= 1"):
        run_op(ctx, "knn.ivfpq", [enc, q, cents, books], nprobe=0, **base)


def test_assign_cells_reproduces_kmeans_assign(ctx, vdf):
    """The deployment contract: assign_cells against the quantizer
    kmeans exports at iterations=T-1 must reproduce kmeans
    assign-mode output at iterations=T exactly (assign mode skips
    the final centroid update), under both retired encode_method
    values, with every passthrough column unchanged."""
    direct = {r["vec_id"]: r["cluster"] for r in run_op(
        ctx, "embedding.kmeans", [vdf], id_column="vec_id",
        k=3, iterations=3).collect()}
    cents = run_op(ctx, "embedding.kmeans", [vdf], id_column="vec_id",
                   k=3, iterations=2, output="centroids")
    wide = vdf.selectExpr("*", *PASSTHROUGH)
    outs = {}
    for method in ("fold", "gemm"):
        out = run_op(ctx, "embedding.assign_cells", [wide, cents],
                     output_column="cluster", encode_method=method)
        got = {r["vec_id"]: r["cluster"] for r in out.collect()}
        assert got == direct, method
        outs[method] = (out.columns, rows_as_text(out))
    assert outs["fold"] == outs["gemm"]


@pytest.mark.parametrize("expr", [
    "INTERVAL '1-2' YEAR TO MONTH",
    "make_interval(1, 2, 0, 3, 4, 5, 6.5)",
    "array(INTERVAL '1-2' YEAR TO MONTH)",
])
def test_encode_accepts_interval_passthrough(ctx, vdf, expr):
    """Only the vector column crosses Arrow, so a year-month or
    calendar interval column (at any depth) passes through
    assign_cells and pq_encode unchanged, and the codes equal those
    of the interval-free frame."""
    cents = run_op(ctx, "embedding.kmeans", [vdf], id_column="vec_id",
                   k=2, iterations=1, output="centroids")
    books = run_op(ctx, "embedding.pq", [vdf], id_column="vec_id",
                   m=2, k=2, iterations=1, output="codebooks")
    df = vdf.selectExpr("*", f"{expr} AS span")
    as_dict = lambda d, c: {r[0]: r[1] for r in d.select("vec_id", c)
                            .collect()}
    for op, table, cfg, out in (
        ("embedding.assign_cells", cents, {}, "cell"),
        ("embedding.pq_encode", books, {"id_column": "vec_id"}, "pq_code"),
    ):
        got = run_op(ctx, op, [df, table], encode_method="gemm", **cfg)
        assert got.schema["span"] == df.schema["span"], op
        text = "CAST(span AS STRING) AS s"
        assert as_dict(got.selectExpr("vec_id", text), "s") == \
            as_dict(df.selectExpr("vec_id", text), "s"), op
        codes = as_dict(got, out)
        assert len(codes) == 6 and None not in codes.values(), op
        assert codes == as_dict(run_op(ctx, op, [vdf, table], **cfg), out), op


def test_assign_cells_dirty_vectors_null_both_engines(ctx, spark):
    rows = [
        (1, [0.0, 0.0]), (2, [1.0, 1.0]),
        (3, None), (4, [1.0]), (5, [0.5, None]),
        (6, [float("nan"), 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])],
        "cluster INT, centroid ARRAY<DOUBLE>")
    for method in ("fold", "gemm"):
        got = {r["vec_id"]: r["cell"] for r in run_op(
            ctx, "embedding.assign_cells", [df, cents],
            encode_method=method).collect()}
        assert got == {1: 0, 2: 1, 3: None, 4: None, 5: None, 6: None}, \
            method


def test_assign_cells_replaces_existing_column_in_position(ctx, spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0], 99)], "vec_id LONG, embedding ARRAY<DOUBLE>, cell INT")
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0])], "cluster INT, centroid ARRAY<DOUBLE>")
    for method in ("fold", "gemm"):
        out = run_op(ctx, "embedding.assign_cells", [df, cents],
                     encode_method=method)
        assert out.columns == ["vec_id", "embedding", "cell"], method
        assert out.collect()[0]["cell"] == 0, method


def test_assign_cells_config_errors(ctx, vdf, spark):
    cents = spark.createDataFrame(
        [(0, [0.0] * 4)], "cluster INT, centroid ARRAY<DOUBLE>")
    with pytest.raises(ConfigError, match="no column"):
        run_op(ctx, "embedding.assign_cells", [vdf, cents], column="x")
    with pytest.raises(ConfigError, match="centroids input has no column"):
        run_op(ctx, "embedding.assign_cells", [vdf, vdf])
    with pytest.raises(ConfigError, match="empty"):
        run_op(ctx, "embedding.assign_cells",
               [vdf, cents.filter("cluster < 0")])
    with pytest.raises(ConfigError, match="contiguous"):
        run_op(ctx, "embedding.assign_cells", [vdf, spark.createDataFrame(
            [(1, [0.0] * 4)], "cluster INT, centroid ARRAY<DOUBLE>")])
    with pytest.raises(ConfigError, match="mixed"):
        run_op(ctx, "embedding.assign_cells", [vdf, spark.createDataFrame(
            [(0, [0.0] * 4), (1, [0.0] * 3)],
            "cluster INT, centroid ARRAY<DOUBLE>")])


def test_knn_ivfpq_rerank_exact_within_probed_cells(ctx, pqdf, ivfpq):
    """rerank with all cells probed and a full-width cut = exact
    squared-L2 brute force (the ADC screen passes everything through;
    the re-rank orders by true distance) — verified against python."""
    df, vecs = pqdf
    enc, cents, books = ivfpq
    q = df.filter("vec_id < 3")
    out = run_op(ctx, "knn.ivfpq", [enc, q, cents, books],
                 id_column="vec_id", cell_column="ivf_cell",
                 code_column="pq_code", k=4, nprobe=3, rerank=100)
    rows = out.collect()
    assert set(out.columns) == {"query_vec_id", "vec_id", "l2_dist",
                                "rank"}
    for qid in (0, 1, 2):
        exp = sorted(
            (round(sum((a - b) * (a - b)
                       for a, b in zip(vecs[qid], vecs[i])), 9), i)
            for i in vecs
        )[:4]
        got = sorted(
            ((r["l2_dist"], r["vec_id"])
             for r in rows if r["query_vec_id"] == qid),
        )
        for (ed, ei), (gd, gi) in zip(exp, got):
            assert gi == ei and gd == pytest.approx(ed, abs=1e-9), qid


def test_knn_ivfpq_rerank_config_errors(ctx, pqdf, ivfpq):
    df, _ = pqdf
    enc, cents, books = ivfpq
    q = df.filter("vec_id < 1")
    base = dict(id_column="vec_id", cell_column="ivf_cell",
                code_column="pq_code")
    with pytest.raises(ConfigError, match="rerank=2 < k=4"):
        run_op(ctx, "knn.ivfpq", [enc, q, cents, books], k=4,
               rerank=2, **base)
    with pytest.raises(ConfigError, match="no column 'nope'"):
        run_op(ctx, "knn.ivfpq", [enc, q, cents, books], k=2,
               rerank=4, vector_column="nope", **base)
    with pytest.raises(ConfigError, match="no effect without"):
        run_op(ctx, "knn.ivfpq", [enc, q, cents, books], k=2,
               vector_column="embedding", **base)
