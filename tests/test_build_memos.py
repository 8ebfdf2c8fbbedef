"""Build-scoped memo contracts (OpContext.memo, clustering.py).

The IVFPQ compositions share work between the ops of ONE build
through ctx.memo: the persisted training frame (`_clean`), its first-k
init collect (`_first_k`), the Lloyd training itself (`_train_pq`) and
the centroids/codebooks collects (`_collect_once`, which the producer
ops pre-register). Each has an invariant a future edit could silently
break:

- producer-registered rows agree VALUE-FOR-VALUE with a real collect
  of the same frame (the parser consumes whichever is present);
- an entry is shared within a build, NEVER across OpContexts (a
  cross-build share would be result caching across bench runs), even
  when the input frame itself outlives the build (`load_table`);
- the key carries the whole recipe: another column or dim misses;
- no DataFrame carries memo state as an attribute;
- the compiler releases the memo with the persisted handles.
"""

from __future__ import annotations

import tomllib
import uuid
from pathlib import Path

from pyspark.sql import Row
from pyspark.sql import functions as F

from conveyor_spark.compiler import run_pipeline
from conveyor_spark.config.spec import parse_spec
from conveyor_spark.datapipe.clustering import (
    _CODEBOOK_COLS, _clean, _collect_once, _first_k,
)
from conveyor_spark.queries import load_table
from conveyor_spark.registry import OpContext

from tests.conftest import run_op

_EXAMPLE = Path(__file__).resolve().parent.parent / "examples" / "ivfpq_pipeline.toml"


def test_local_rows_match_a_real_collect(spark, sf_dir):
    ctx = OpContext(spark=spark)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = run_op(ctx, "embedding.kmeans", [e], id_column="vec_id",
                   column="embedding", k=4, iterations=1, dim=64,
                   output="centroids")
    cols = ("cluster", "centroid")
    registered = ctx.memos[("rows", cents, cols)]
    collected = cents.select(*cols).collect()
    assert len(registered) == len(collected) == 4
    for rr, cr in zip(sorted(registered, key=lambda r: r["cluster"]),
                      sorted(collected, key=lambda r: r["cluster"])):
        assert rr["cluster"] == cr["cluster"]
        assert list(rr["centroid"]) == list(cr["centroid"])  # bitwise

    books = run_op(ctx, "embedding.pq", [e], id_column="vec_id",
                   column="embedding", m=4, k=4, iterations=1, dim=64,
                   output="codebooks")
    registered = ctx.memos[("rows", books, _CODEBOOK_COLS)]
    collected = books.select(*_CODEBOOK_COLS).collect()
    key = lambda r: (r["subspace"], r["code"])  # noqa: E731
    assert len(registered) == len(collected) == 16
    for rr, cr in zip(sorted(registered, key=key),
                      sorted(collected, key=key)):
        assert key(rr) == key(cr)
        assert list(rr["centroid"]) == list(cr["centroid"])


def test_init_shared_within_but_not_across_builds(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ctx1 = OpContext(spark=spark)
    clean, _ = _clean(ctx1, e, "vec_id", "embedding", 64, "test")
    a = _first_k(ctx1, clean, 4)
    # same build, same key: one persisted frame, one collect
    assert _clean(ctx1, e, "vec_id", "embedding", 64, "test")[0] is clean
    assert _first_k(ctx1, clean, 4) is a
    assert len(ctx1.persisted) == 1
    # a different k misses
    c = _first_k(ctx1, clean, 3)
    assert c is not a and len(c) == 3
    # a NEW context (a fresh query build / bench repeat) collects fresh
    ctx2 = OpContext(spark=spark)
    clean2, _ = _clean(ctx2, e, "vec_id", "embedding", 64, "test")
    d = _first_k(ctx2, clean2, 4)
    assert clean2 is not clean and d is not a
    assert [list(r[0]) for r in d] == [list(r[0]) for r in a]  # same values
    ctx1.release_persisted()
    ctx2.release_persisted()


def test_another_column_or_dim_misses(spark, sf_dir):
    f = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "half", F.slice("embedding", 1, 32))
    ctx = OpContext(spark=spark)
    base, _ = _clean(ctx, f, "vec_id", "embedding", 64, "test")
    other_col, _ = _clean(ctx, f, "vec_id", "half", 32, "test")
    other_dim, _ = _clean(ctx, f, "vec_id", "embedding", 32, "test")
    assert len({id(base), id(other_col), id(other_dim)}) == 3
    assert len(ctx.persisted) == 3
    assert other_dim.count() == 0  # no 64-dim row passes a dim-32 filter
    assert [len(r[0]) for r in _first_k(ctx, other_col, 2)] == [32, 32]
    assert [len(r[0]) for r in _first_k(ctx, base, 2)] == [64, 64]
    ctx.release_persisted()


def test_load_table_codebooks_collected_again_in_a_new_build(spark, sf_dir):
    """load_table hands every build the SAME frame object, so an
    object-anchored cache would leak rows across builds; the memo is
    per OpContext, so a second build collects for real."""
    e = load_table(spark, sf_dir, "embeddings")
    assert load_table(spark, sf_dir, "embeddings") is e
    cfg = dict(id_column="vec_id", column="embedding", m=4, k=4,
               iterations=1, dim=64, output="codebooks")
    ctx1 = OpContext(spark=spark)
    books = run_op(ctx1, "embedding.pq", [e], **cfg)
    first = _collect_once(ctx1, books, _CODEBOOK_COLS)
    assert first is ctx1.memos[("rows", books, _CODEBOOK_COLS)]
    assert not isinstance(first[0], Row)  # the producer's rows, no job

    ctx2 = OpContext(spark=spark)
    again = _collect_once(ctx2, books, _CODEBOOK_COLS)
    assert again is not first and isinstance(again[0], Row)  # collected
    key = lambda r: (r["subspace"], r["code"])  # noqa: E731
    assert [list(r["centroid"]) for r in sorted(again, key=key)] == \
        [list(r["centroid"]) for r in sorted(first, key=key)]
    # the second build trains on its own persisted frame, too
    books2 = run_op(ctx2, "embedding.pq", [e], **cfg)
    assert books2 is not books
    assert not set(ctx1.persisted) & set(ctx2.persisted)
    ctx1.release_persisted()
    ctx2.release_persisted()


def _jobs_of(spark, group: str, thunk):
    """(thunk(), number of Spark jobs it launched), counted through a
    job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_kmeans_training_shared_within_a_build(spark, sf_dir):
    """kmeans assign at T=2 and centroids at T=1 ask _train_pq for the
    same training (one update): in one build the second call launches
    no Spark job at all. A fresh OpContext trains again, and another
    k misses the memo."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cfg = dict(id_column="vec_id", column="embedding", dim=64)
    tag = f"memo-{uuid.uuid4().hex}"

    def centroids(ctx, k):
        return run_op(ctx, "embedding.kmeans", [e], k=k, iterations=1,
                      output="centroids", **cfg)

    ctx = OpContext(spark=spark)
    run_op(ctx, "embedding.kmeans", [e], k=4, iterations=2, **cfg)
    shared, jobs = _jobs_of(spark, f"{tag}-hit", lambda: centroids(ctx, 4))
    assert jobs == 0

    fresh = OpContext(spark=spark)
    own, jobs = _jobs_of(spark, f"{tag}-fresh", lambda: centroids(fresh, 4))
    assert jobs > 0
    assert sorted(map(tuple, shared.collect())) == \
        sorted(map(tuple, own.collect()))  # same centroids and sizes

    clean, _ = _clean(ctx, e, "vec_id", "embedding", 64, "test")
    _first_k(ctx, clean, 3)  # the init collect is not what is counted
    other, jobs = _jobs_of(spark, f"{tag}-k3", lambda: centroids(ctx, 3))
    assert jobs > 0 and other.count() == 3
    ctx.release_persisted()
    fresh.release_persisted()


def test_no_conveyor_attributes_on_outputs(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ctx = OpContext(spark=spark)
    outs = [
        run_op(ctx, "embedding.kmeans", [e], id_column="vec_id", k=4,
               iterations=1, dim=64, output=mode)
        for mode in ("assign", "centroids")
    ] + [
        run_op(ctx, "embedding.pq", [e], id_column="vec_id", m=4, k=4,
               iterations=1, dim=64, output=mode)
        for mode in ("codes", "codebooks")
    ]
    for df in [e, *outs]:
        assert not [a for a in vars(df) if a.startswith("_conveyor")]
    ctx.release_persisted()


def test_compiler_releases_memo_and_persists(spark, tmp_path, monkeypatch):
    data = tomllib.loads(_EXAMPLE.read_text())
    for stage in data["stages"]:
        if stage["id"] == "out":
            stage["config"]["path"] = str(tmp_path / "neighbors.csv")
    seen = []
    release = OpContext.release_persisted

    def spy(self):
        before = (len(self.memos), len(self.persisted))
        release(self)
        seen.append((before, (len(self.memos), len(self.persisted))))

    monkeypatch.setattr(OpContext, "release_persisted", spy)
    result = run_pipeline(spark, parse_spec(data))
    assert not result.errors
    assert (tmp_path / "neighbors.csv").read_text().strip()
    [((memos, persisted), after)] = seen
    # the run used the memo (clean frame, init, centroids + codebooks
    # rows) and one persisted training frame, and released both
    assert memos > 0 and persisted == 1
    assert after == (0, 0)
