"""embedding.pca (pca.py): plain-Python replay, numpy sanity,
partitioning invariance, config errors."""

from __future__ import annotations

import math

import pytest

from conveyor_spark.errors import ConfigError
from tests.conftest import run_op

Q = 1048576.0


def py_pca(vecs: dict[int, list[float]], r: int, iterations: int):
    """Mirror pca.py: quantized exact moments, the one covariance
    formula, power iteration with deflation."""
    from conveyor_spark.datapipe.pca import power_iteration

    dim = len(next(iter(vecs.values())))
    ids = sorted(vecs)
    n = len(ids)
    qv = {i: [math.floor(x * Q) for x in vecs[i]] for i in ids}
    s = [float(sum(qv[i][d] for i in ids)) for d in range(dim)]
    mean = [s_d / (n * Q) for s_d in s]
    cov = [[0.0] * dim for _ in range(dim)]
    for a in range(dim):
        for b in range(a, dim):
            p = float(sum(qv[i][a] * qv[i][b] for i in ids))
            c = (p - s[a] * s[b] / n) / (n * Q * Q)
            cov[a][b] = c
            cov[b][a] = c
    comps = []
    for _ in range(r):
        lam, v = power_iteration(cov, iterations)
        comps.append((lam, v))
        for a in range(dim):
            for b in range(dim):
                cov[a][b] = cov[a][b] - lam * v[a] * v[b]
    scores = {}
    for i in ids:
        scores[i] = [
            round(sum((vecs[i][d] - mean[d]) * v[d] for d in range(dim)), 9)
            for _, v in comps
        ]
    return comps, mean, scores


@pytest.fixture(scope="module")
def pcadf(spark):
    import numpy as np

    rows = [
        (i, [float(np.float32(math.sin(i * 3 + d) + 0.1 * d)) for d in range(6)])
        for i in range(40)
    ]
    return (
        spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>"),
        {i: [float(np.float32(x)) for x in v] for i, v in rows},
    )


def test_pca_matches_python_reference(ctx, pcadf):
    df, vecs = pcadf
    comps, mean, exp_scores = py_pca(vecs, r=2, iterations=6)
    out = run_op(ctx, "embedding.pca", [df], id_column="vec_id",
                 components=2, iterations=6)
    got = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in out.collect()}
    for i, (e1, e2) in exp_scores.items():
        assert got[i][0] == pytest.approx(e1, abs=1e-9), i
        assert got[i][1] == pytest.approx(e2, abs=1e-9), i

    cdf = run_op(ctx, "embedding.pca", [df], id_column="vec_id",
                 components=2, iterations=6, output="components")
    crows = {r["component"]: r for r in cdf.collect()}
    for k in (1, 2):
        assert crows[k]["eigenvalue"] == pytest.approx(
            comps[k - 1][0], abs=1e-12)
        for a, b in zip(crows[k]["vector"], comps[k - 1][1]):
            assert a == pytest.approx(b, abs=1e-12)
        for a, b in zip(crows[k]["mean"], mean):
            assert a == pytest.approx(b, abs=1e-12)


def test_pca_agrees_with_numpy_eigendecomposition(ctx, pcadf):
    """With enough iterations the power-iteration eigenvalues must
    approach numpy's exact ones (sanity that this is actually PCA)."""
    np = pytest.importorskip("numpy")
    df, vecs = pcadf
    out = run_op(ctx, "embedding.pca", [df], id_column="vec_id",
                 components=2, iterations=60, output="components")
    got = sorted((r["eigenvalue"] for r in out.collect()), reverse=True)

    X = np.array([vecs[i] for i in sorted(vecs)])
    Xq = np.floor(X * Q)
    n = len(X)
    S = Xq.sum(0)
    C = (Xq.T @ Xq - np.outer(S, S) / n) / (n * Q * Q)
    w = np.linalg.eigvalsh(C)
    assert got[0] == pytest.approx(w[-1], rel=1e-6)
    assert got[1] == pytest.approx(w[-2], rel=1e-3)


def test_pca_whiten(ctx, pcadf):
    df, vecs = pcadf
    comps, _, exp_scores = py_pca(vecs, r=2, iterations=6)
    out = run_op(ctx, "embedding.pca", [df], id_column="vec_id",
                 components=2, iterations=6, whiten=True)
    got = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in out.collect()}
    for i, (e1, e2) in exp_scores.items():
        # python reference rounds pre-whitening; compare loosely
        assert got[i][0] == pytest.approx(
            e1 / math.sqrt(comps[0][0]), abs=1e-6), i
        assert got[i][1] == pytest.approx(
            e2 / math.sqrt(comps[1][0]), abs=1e-6), i
    # whitened scores have ~unit variance
    import statistics
    assert statistics.pvariance([v[0] for v in got.values()]) == \
        pytest.approx(1.0, rel=0.05)


def test_pca_partitioning_invariance(ctx, pcadf):
    df, _ = pcadf
    base = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in run_op(
        ctx, "embedding.pca", [df.repartition(1)], id_column="vec_id",
        components=2, iterations=5).collect()}
    got = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in run_op(
        ctx, "embedding.pca", [df.repartition(7)], id_column="vec_id",
        components=2, iterations=5).collect()}
    assert got == base


def test_pca_dirty_vectors_and_errors(ctx, spark, pcadf):
    rows = [(1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, None), (4, [1.0])]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = run_op(ctx, "embedding.pca", [df], id_column="vec_id",
                 components=1, iterations=3)
    got = {r["vec_id"]: r["pc1"] for r in out.collect()}
    assert got[3] is None and got[4] is None
    assert got[1] is not None and got[2] is not None

    full, _ = pcadf
    with pytest.raises(ConfigError, match="components"):
        run_op(ctx, "embedding.pca", [full], id_column="vec_id",
               components=99)
    with pytest.raises(ConfigError, match="no usable"):
        empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
        run_op(ctx, "embedding.pca", [empty], id_column="vec_id",
               components=1, dim=4)


def _assert_matches_py_pca(ctx, df, vecs, r, iterations):
    """Components, eigenvalues, mean and projections all EQUAL the
    exact-integer Python model (not approx): the moment sums are
    exact, and every later step is the same IEEE sequence."""
    comps, mean, scores = py_pca(vecs, r=r, iterations=iterations)
    cdf = run_op(ctx, "embedding.pca", [df], id_column="vec_id",
                 components=r, iterations=iterations, output="components")
    got = sorted((c["component"], c["eigenvalue"], list(c["vector"]),
                  list(c["mean"])) for c in cdf.collect())
    assert got == [(k + 1, comps[k][0], comps[k][1], mean) for k in range(r)]
    out = run_op(ctx, "embedding.pca", [df], id_column="vec_id",
                 components=r, iterations=iterations)
    got = {row["vec_id"]: [row[f"pc{k + 1}"] for k in range(r)]
           for row in out.collect()}
    assert {i: got[i] for i in scores} == scores
    return got


def test_pca_moments_gemm_entries_parity(ctx, spark):
    # the moment engine must produce EXACT sums and therefore the
    # Python model's components/projections bit-for-bit — adversarial
    # data: negatives, magnitudes spanning 1e-6..1e3, a constant
    # column, and enough rows that per-batch int64 partials accumulate
    import math as m

    rows = [
        (i, [
            float((-1) ** i * m.sin(i * 7) * (10.0 ** (i % 7 - 3))),
            float(i - 500.5),
            1.25,
            float(m.cos(i)) * 1e-6,
        ])
        for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    _assert_matches_py_pca(ctx, df, dict(rows), r=2, iterations=8)
    # the retired moments="entries" runs the same engine
    a, b = (
        sorted(tuple(r) for r in run_op(
            ctx, "embedding.pca", [df], id_column="vec_id", components=2,
            iterations=8, output="components", **extra).collect())
        for extra in ({}, {"moments": "entries"})
    )
    assert a == b


def test_pca_moments_rejects_unknown_engine(ctx, pcadf):
    df, _ = pcadf
    with pytest.raises(Exception, match="moments"):
        run_op(ctx, "embedding.pca", [df], id_column="vec_id",
               moments="fast")


def test_pca_large_magnitudes_match_python_reference(ctx, spark):
    # |x| = 5000 quantizes past 2^31, where a single int64 product
    # would wrap: such a batch sums in exact Python ints instead
    rows = {i: [5000.0 + i, 1.0 - i / 8] for i in range(8)}
    df = spark.createDataFrame(
        sorted(rows.items()), "vec_id LONG, embedding ARRAY<DOUBLE>")
    _assert_matches_py_pca(ctx, df, rows, r=1, iterations=4)


def test_pca_refuses_values_past_int64_quantization(ctx, spark):
    # |x| >= 2^43 quantizes past 2^63: not an int64, refused loudly
    df = spark.createDataFrame(
        [(i, [1e13 + i, 1.0]) for i in range(8)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    with pytest.raises(Exception, match=r"2\^63"):
        run_op(ctx, "embedding.pca", [df], id_column="vec_id",
               components=1, iterations=4, output="components").collect()


def test_pca_nan_vectors_are_invalid_in_both_engines(ctx, spark):
    # review r10: NaN passed the validity filter — a skinny-entry
    # engine silently quantized NaN to 0 while numpy's int64 cast
    # yields platform garbage. NaN-bearing vectors are INVALID like
    # NULL-holding ones: excluded from moments, NULL projections.
    rows = {i: [float(i + d) for d in range(3)] for i in range(10)}
    df = spark.createDataFrame(
        [*rows.items(), (99, [1.0, float("nan"), 2.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = _assert_matches_py_pca(ctx, df, rows, r=1, iterations=4)
    assert got[99] == [None]  # NaN vector projects NULL


def test_pca_inf_vectors_invalid_in_both_engines(ctx, spark):
    # review r10 second pass: Inf passed the NaN-only check — a
    # skinny-entry engine quantized Inf to Long.MAX (silent moment
    # poison), the gemm path aborted the whole query. Non-finite =
    # invalid: excluded from moments, NULL projections.
    rows = {i: [float(i + d) for d in range(3)] for i in range(10)}
    df = spark.createDataFrame(
        [*rows.items(), (99, [1.0, float("inf"), 2.0]),
         (98, [float("-inf"), 1.0, 2.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = _assert_matches_py_pca(ctx, df, rows, r=1, iterations=4)
    assert got[99] == [None] and got[98] == [None]
