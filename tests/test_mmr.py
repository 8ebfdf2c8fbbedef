"""rank.mmr vs a literal-Python greedy MMR, plus the degenerate
lambda endpoints and invalid-vector exclusion."""

from __future__ import annotations

import math

import pytest

from conveyor_spark.errors import ConfigError
from tests.conftest import run_op

VECS = {
    1: ([1.0, 0.0, 0.0], 0.9),
    2: ([0.99, 0.14, 0.0], 0.8),   # near-dup of 1, still relevant
    3: ([0.0, 1.0, 0.0], 0.7),
    4: ([0.0, 0.0, 1.0], 0.6),
    5: ([0.0, 0.707, 0.707], 0.5),
}


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return round(d / (na * nb), 6)


def _py_mmr(pool, k, lam):
    sel = []
    rest = dict(pool)
    while rest and len(sel) < k:
        best = None
        for i, (v, rel) in sorted(rest.items()):
            if sel:
                ms = max(_cos(v, pool[j][0]) for j, _ in sel)
                s = round(lam * rel - (1 - lam) * ms, 9)
            else:
                s = round(rel, 9)
            if best is None or s > best[2]:
                best = (i, rel, s)
        sel.append((best[0], best[2]))
        del rest[best[0]]
    return sel


@pytest.fixture(scope="module")
def pool(spark):
    rows = [(i, v, r) for i, (v, r) in VECS.items()]
    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, rel DOUBLE")


@pytest.mark.parametrize("lam", [0.5, 0.0, 1.0, 0.7])
def test_mmr_matches_reference(ctx, pool, lam):
    out = run_op(ctx, "rank.mmr", [pool], id_column="vec_id",
                 column="embedding", relevance_column="rel",
                 k=4, lam=lam)
    got = [(r["vec_id"], r["mmr"]) for r in
           sorted(out.collect(), key=lambda r: r["rank"])]
    exp = _py_mmr(VECS, 4, lam)
    assert [g[0] for g in got] == [e[0] for e in exp], lam
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], abs=1e-9), lam


def test_mmr_diversity_beats_topk(ctx, pool):
    # lambda=1 keeps the near-dup pair (1, 2); a diversity-weighted
    # run must skip 2 in favor of an orthogonal pick
    top = run_op(ctx, "rank.mmr", [pool], id_column="vec_id",
                 column="embedding", relevance_column="rel", k=2, lam=1.0)
    assert {r["vec_id"] for r in top.collect()} == {1, 2}
    div = run_op(ctx, "rank.mmr", [pool], id_column="vec_id",
                 column="embedding", relevance_column="rel", k=2, lam=0.5)
    assert {r["vec_id"] for r in div.collect()} == {1, 3}


def test_mmr_excludes_invalid_and_exhausts(ctx, spark):
    rows = [
        (1, [1.0, 0.0], 0.9),
        (2, [0.0, 0.0], 0.8),        # zero norm: excluded
        (3, None, 0.7),              # null vector: excluded
        (4, [0.0, 1.0], None),       # null relevance: excluded
        (5, [0.5, 0.5], 0.1),
    ]
    d = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, rel DOUBLE")
    out = run_op(ctx, "rank.mmr", [d], id_column="vec_id",
                 column="embedding", relevance_column="rel", k=10)
    got = sorted((r["rank"], r["vec_id"]) for r in out.collect())
    assert got == [(1, 1), (2, 5)]  # pool exhausts below k


def test_mmr_errors(ctx, pool):
    with pytest.raises(ConfigError, match="relevance_column"):
        run_op(ctx, "rank.mmr", [pool], id_column="vec_id")
    with pytest.raises(ConfigError, match="lam"):
        run_op(ctx, "rank.mmr", [pool], id_column="vec_id",
               relevance_column="rel", lam=1.5)
    with pytest.raises(ConfigError, match="rank.mmr: parameter 'k': 0 < min 1"):
        run_op(ctx, "rank.mmr", [pool], id_column="vec_id",
               relevance_column="rel", k=0)


def test_mmr_ragged_and_null_id_pool(ctx, spark):
    # review findings: mixed-dim vectors used to win the argmax with a
    # NULL score (TypeError), and a NULL id conflated with exhaustion
    rows = [
        (None, [9.0, 0.0], 2.0),       # NULL id: excluded, not a stop
        (1, [1.0, 0.0], 0.9),
        (2, [1.0, 0.0, 0.0], 0.95),    # ragged vs inferred dim 2
        (3, [0.0, 1.0], 0.8),
    ]
    d = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, rel DOUBLE")
    out = run_op(ctx, "rank.mmr", [d], id_column="vec_id",
                 column="embedding", relevance_column="rel", k=5)
    got = sorted((r["rank"], r["vec_id"]) for r in out.collect())
    assert got == [(1, 1), (2, 3)]
    # explicit dim keeps the 3-dim vector instead
    out3 = run_op(ctx, "rank.mmr", [d], id_column="vec_id",
                  column="embedding", relevance_column="rel", k=5, dim=3)
    assert [r["vec_id"] for r in out3.collect()] == [2]


def test_mmr_empty_pool(ctx, spark):
    d = spark.createDataFrame(
        [], "vec_id LONG, embedding ARRAY<DOUBLE>, rel DOUBLE")
    out = run_op(ctx, "rank.mmr", [d], id_column="vec_id",
                 column="embedding", relevance_column="rel", k=3)
    assert out.collect() == []


def test_mmr_empty_vector_at_min_id_does_not_zero_dim(ctx, spark):
    # review finding: an empty array holding the minimum id made
    # _infer_dim return 0 and the whole selection came back empty
    rows = [(0, [], 1.0), (1, [1.0, 0.0], 0.9), (2, [0.0, 1.0], 0.8)]
    d = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, rel DOUBLE")
    out = run_op(ctx, "rank.mmr", [d], id_column="vec_id",
                 column="embedding", relevance_column="rel", k=2)
    assert sorted(r["vec_id"] for r in out.collect()) == [1, 2]
