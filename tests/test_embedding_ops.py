"""Tests for embedding.normalize / embedding.quantize
(datapipe/embedding.py)."""

from __future__ import annotations

import math

import pytest

from conveyor_spark.errors import ConfigError
from tests.conftest import run_op


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [3.0, 4.0]),
        (2, [0.0, 0.0]),
        (3, [-1.0, 1.0]),
        (4, [0.5, -2.5]),
    ]
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    return spark.createDataFrame(rows, schema)


def test_normalize_unit_length(ctx, vecs):
    out = {r["vec_id"]: r for r in run_op(
        ctx, "embedding.normalize", [vecs], column="embedding",
        output_column="unit", norm_column="nrm").collect()}
    assert out[1]["nrm"] == pytest.approx(5.0)
    assert out[1]["unit"] == pytest.approx([0.6, 0.8])
    # zero vector: unchanged, norm 0, no division error
    assert out[2]["nrm"] == 0.0 and out[2]["unit"] == [0.0, 0.0]
    for vid in (3, 4):
        assert math.hypot(*out[vid]["unit"]) == pytest.approx(1.0)


def test_normalize_overwrites_in_place_by_default(ctx, vecs):
    out = run_op(ctx, "embedding.normalize", [vecs], column="embedding")
    assert out.columns == ["vec_id", "embedding"]
    row = {r["vec_id"]: r["embedding"] for r in out.collect()}
    assert row[1] == pytest.approx([0.6, 0.8])


def test_quantize_roundtrip_error_bounded(ctx, vecs):
    out = {r["vec_id"]: r for r in run_op(
        ctx, "embedding.quantize", [vecs], column="embedding").collect()}
    r = out[4]
    assert r["embedding_scale"] == pytest.approx(2.5 / 127)
    deq = [q * r["embedding_scale"] for q in r["embedding_q8"]]
    for orig, back in zip([0.5, -2.5], deq):
        assert abs(orig - back) <= r["embedding_scale"] / 2 + 1e-12
    # extremes hit +-127 exactly
    assert out[1]["embedding_q8"][1] == 127
    assert max(abs(q) for q in out[3]["embedding_q8"]) == 127
    # zero vector: zero codes, zero scale
    assert out[2]["embedding_q8"] == [0, 0] and out[2]["embedding_scale"] == 0.0


def test_quantize_output_is_tinyint(ctx, vecs):
    out = run_op(ctx, "embedding.quantize", [vecs], column="embedding",
                 output_column="q", scale_column="s")
    dt = dict(out.dtypes)
    assert dt["q"] == "array<tinyint>" and dt["s"] == "double"


def test_knn_lsh_pq_verify_unbounded_rerank_equals_exact(ctx, spark):
    """verify='pq' with a rerank cap above the candidate count keeps
    EVERY candidate through the screen — the exact re-rank must then
    reproduce verify='exact' row-for-row (the screen may reorder, it
    must never rescore)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(id_column="vec_id", k=3, dim=64, bits=24, bands=4)
    a = run_op(ctx, "knn.lsh", [e], **kw)
    b = run_op(ctx, "knn.lsh", [e], verify="pq", m=4, codewords=4,
               iterations=1, rerank=10**6, **kw)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b and len(rows_a) > 0


def test_knn_lsh_pq_verify_pretrained_matches_inline(ctx, spark):
    """code_column + codebooks last input (the train-once deployment)
    must reproduce inline training exactly: embedding.pq's encode is
    the same argmin as _train_pq's final assign."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(id_column="vec_id", k=3, dim=64, bits=24, bands=4,
              verify="pq", m=4, codewords=4, rerank=6)
    inline = run_op(ctx, "knn.lsh", [e], iterations=1, **kw)
    books = run_op(ctx, "embedding.pq", [e], id_column="vec_id", m=4, k=4,
                   iterations=1, output="codebooks")
    coded = run_op(ctx, "embedding.pq", [e], id_column="vec_id", m=4, k=4,
                   iterations=1, output="codes")
    pre = run_op(ctx, "knn.lsh", [coded, books], code_column="pq_code", **kw)
    assert sorted(map(tuple, inline.collect())) == \
        sorted(map(tuple, pre.collect()))


def test_gemm_encode_codes_bit_matches_fold(ctx, spark):
    """pq_encoder (the Arrow numpy argmin every encode op runs) must
    reproduce the training fold's codes EXACTLY — per-dim sequential
    accumulation makes every distance double identical, and
    np.argmin's first-occurrence tie matches array_position's
    ties-to-lowest. Checked code-by-code on the full table."""
    from conveyor_spark.datapipe.clustering import (
        _clean, _train_pq, pq_encoder,
    )
    from pyspark.sql import functions as F

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    clean, dim = _clean(ctx, e, "vec_id", "embedding", 64, "embedding.pq")
    codebooks, _, encoded = _train_pq(ctx, clean, 64, 4, 16, 1)
    fold = {
        r["__kid"]: tuple(r["c"])
        for r in encoded.select(
            "__kid", F.array(*[f"__c{s}" for s in range(4)]).alias("c")
        ).collect()
    }
    enc = pq_encoder(codebooks, 4, 16)
    gemm = {
        r["__kid"]: tuple(r["code"])
        for r in clean.select("__kid", enc("__v").alias("code")).collect()
    }
    assert fold == gemm and len(fold) == 500


def test_knn_lsh_pq_verify_gemm_encode_matches_fold(ctx, spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(id_column="vec_id", k=3, dim=64, bits=24, bands=4,
              verify="pq", m=4, codewords=4, iterations=1, rerank=6)
    a = run_op(ctx, "knn.lsh", [e], encode_method="fold", **kw)
    b = run_op(ctx, "knn.lsh", [e], encode_method="gemm", **kw)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b and len(rows_a) > 0


def test_knn_lsh_pq_verify_validates(ctx, spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(id_column="vec_id", k=3, dim=64, bits=24, bands=4)
    # PQ knobs are dead config under verify='exact' — loud failure
    for dead in ({"rerank": 6}, {"m": 8}, {"codewords": 8},
                 {"iterations": 2}, {"code_column": "pq_code"}):
        with pytest.raises(ConfigError, match="verify='pq'"):
            run_op(ctx, "knn.lsh", [e], **kw, **dead)
    # a rerank below k could never fill the requested top-k
    with pytest.raises(ConfigError, match="rerank"):
        run_op(ctx, "knn.lsh", [e], verify="pq", rerank=2, **kw)
    # code_column without the codebooks input
    with pytest.raises(ConfigError, match="codebooks"):
        run_op(ctx, "knn.lsh", [e], verify="pq", code_column="pq_code", **kw)
    # encode_method is dead config in pretrained mode (corpus already
    # encoded) — loud failure, same doctrine as the blocking knobs
    books = run_op(ctx, "embedding.pq", [e], id_column="vec_id", m=4, k=4,
                   iterations=1, output="codebooks")
    coded = run_op(ctx, "embedding.pq", [e], id_column="vec_id", m=4, k=4,
                   iterations=1, output="codes")
    with pytest.raises(ConfigError, match="pretrained"):
        run_op(ctx, "knn.lsh", [coded, books], verify="pq",
               code_column="pq_code", encode_method="gemm", **kw)
    # iterations is equally dead in pretrained mode (no training runs)
    with pytest.raises(ConfigError, match="pretrained"):
        run_op(ctx, "knn.lsh", [coded, books], verify="pq",
               code_column="pq_code", iterations=2, **kw)
    # a third (codebooks) input without code_column would be silently
    # ignored and codebooks inline-trained — loud failure instead
    # (two inputs stay legal: [corpus, queries])
    with pytest.raises(ConfigError, match="code_column"):
        run_op(ctx, "knn.lsh", [coded, coded, books], verify="pq", **kw)
    # SDC literal-table budget
    with pytest.raises(ConfigError, match="65536"):
        run_op(ctx, "knn.lsh", [e], verify="pq", m=16, codewords=256, **kw)


_INF, _NAN = float("inf"), float("nan")


@pytest.mark.parametrize("elem", ["FLOAT", "DOUBLE"])
def test_lsh_signature_pinned_edge_cases(ctx, spark, elem):
    """embedding.lsh signatures pinned on the rows a reordered or
    NaN-blind engine gets wrong. Spark's fold defines them: a NULL
    element, a wrong length or a NULL vector gives NULL; a NaN dot
    (NaN element, inf - inf) sets its bit, as Spark orders NaN above
    every number."""
    from conveyor_spark.datapipe.emb_lsh import sign_matrix

    rows = [
        ([1.0, None, 2.0], None),
        ([1.0, _NAN, 2.0], 15),
        ([_INF, -_INF, 1.0], 11),
        ([_INF, 1.0, 1.0], 3),
        ([0.0, 0.0, 0.0], 0),
        ([-0.0, 0.0, -0.0], 0),
        ([], None),
        ([1.0, 2.0], None),
        ([1.0, 2.0, 3.0, 4.0], None),
        (None, None),
        ([3e38, 3e38, -3e38], 3),
    ]

    def sigs(rows, dim, bits=4):
        df = spark.createDataFrame(
            [(i, v) for i, (v, _) in enumerate(rows)],
            f"vec_id INT, embedding ARRAY<{elem}>")
        out = run_op(ctx, "embedding.lsh", [df], bits=bits, dim=dim)
        return [r["lsh_sig"] for r in out.orderBy("vec_id").collect()]

    assert sigs(rows, 3) == [sig for _, sig in rows]
    # plane 1 of sign_matrix(4, 4) is all +1: summed left to right,
    # 2^53 + 1 + 1 - 2^53 is 0.0 (each +1 rounds away), a pairwise sum
    # gives 1.0 — the signature is 1, not 3
    assert sigs([([2.0**53, 1.0, 1.0, -2.0**53], 1)], 4) == [1]
    # the same cancellation at dim=64, where np.sum splits a row over
    # 8 partial sums: plane 0 sees 2^53, 62 ones, -2^53 -> 0.0, bit 0
    # clear (8 partial sums give 55.0)
    plane = sign_matrix(1, 64)[0]
    c = [2.0**53] + [1.0] * 62 + [-2.0**53]
    assert sigs([([s * x for s, x in zip(plane, c)], 0)], 64, bits=1) == [0]
