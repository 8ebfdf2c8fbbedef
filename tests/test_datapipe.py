"""Training-data ops: dedup, similarity, text analysis, multimodal."""

from __future__ import annotations

import pytest

from conveyor_spark.errors import ConfigError
from tests.conftest import dedup_embedding_reference, knn_ivf_reference, run_op


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
            (3, "the quick brown fox jumps over the lazy cat"),   # near dup of 1
            (4, "completely different words entirely unrelated text here"),
            (5, "Thé Quick,  Brown FOX jumps over the lazy dog!"),  # formatting dup
        ],
        "doc_id INT, text STRING",
    )


def test_dedup_exact(ctx, docs):
    out = run_op(ctx, "dedup.exact", [docs], columns="text", id_column="doc_id")
    assert {r["doc_id"] for r in out.collect()} == {1, 3, 4, 5}  # 2 dropped, min id kept


def test_dedup_minhash_finds_near_dups(ctx, docs):
    pairs = run_op(ctx, "dedup.minhash", [docs], column="text", id_column="doc_id",
                   num_hashes=16, bands=8, shingle="word", ngram=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got          # identical -> all bands match
    assert (1, 3) in got or (2, 3) in got  # near dup -> some band
    assert all(4 not in p for p in got)    # unrelated never pairs


def _components_of(ctx, pairs):
    out = run_op(ctx, "dedup.components", [pairs])
    comp = {}
    for r in out.collect():
        comp.setdefault(r["component"], set()).add(r["id"])
    return {frozenset(s) for s in comp.values()}


def test_dedup_minhash_star_same_components(ctx, docs):
    cfg = dict(column="text", id_column="doc_id",
               num_hashes=16, bands=8, shingle="word", ngram=2)
    allp = run_op(ctx, "dedup.minhash", [docs], **cfg)
    star = run_op(ctx, "dedup.minhash", [docs], **cfg, pairs="star")
    # star emits at most as many edges, with identical connectivity
    assert star.count() <= allp.count()
    assert _components_of(ctx, star) == _components_of(ctx, allp)


def test_dedup_minhash_star_incremental_hub_is_new(ctx, docs, spark):
    # split docs into existing (1,2) and new (3,4,5); star edges must
    # all touch the new side and preserve new-doc connectivity
    existing = docs.filter("doc_id <= 2")
    new = docs.filter("doc_id >= 3")
    cfg = dict(column="text", id_column="doc_id",
               num_hashes=16, bands=8, shingle="word", ngram=2)
    star = run_op(ctx, "dedup.minhash", [new, existing], **cfg, pairs="star")
    allp = run_op(ctx, "dedup.minhash", [new, existing], **cfg)
    new_ids = {3, 4, 5}
    for r in star.collect():
        assert r["id_a"] in new_ids or r["id_b"] in new_ids
    # every new doc paired in all-mode is still reachable in star mode
    paired_all = {x for r in allp.collect() for x in (r["id_a"], r["id_b"])} & new_ids
    paired_star = {x for r in star.collect() for x in (r["id_a"], r["id_b"])} & new_ids
    assert paired_star == paired_all


def test_dedup_simhash(ctx, docs):
    out = run_op(ctx, "dedup.simhash", [docs], column="text", bits=32)
    sh = {r["doc_id"]: r["simhash"] for r in out.collect()}
    assert sh[1] == sh[2]  # identical text, identical fingerprint
    ham13 = bin(sh[1] ^ sh[3]).count("1")
    ham14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham13 < ham14  # near-dup closer than unrelated


def test_dedup_ngram_jaccard_exact(ctx, docs):
    pairs = run_op(ctx, "dedup.ngram_jaccard", [docs], column="text",
                   id_column="doc_id", shingle="token", threshold=0.7, exact=True)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] >= 0.7
    assert all(4 not in p for p in got)


def test_dedup_ngram_jaccard_default_prunes_hot_shingles(ctx, docs):
    # 5 docs, max_df=0.05 -> cap = max(floor(0.25), 1) = 1: every
    # shingle shared by 2+ docs is hot and leaves the posting lists,
    # so NO pairs survive — the conservative behavior, exercised at a
    # degenerate corpus size. A laxer max_df readmits the dups.
    none = run_op(ctx, "dedup.ngram_jaccard", [docs], column="text",
                  id_column="doc_id", shingle="token", threshold=0.7)
    assert none.count() == 0
    lax = run_op(ctx, "dedup.ngram_jaccard", [docs], column="text",
                 id_column="doc_id", shingle="token", threshold=0.7, max_df=0.9)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in lax.collect()}
    assert got[(1, 2)] == 1.0  # df cap 4: only the everywhere-shingles drop


def test_dedup_ngram_jaccard_candidate_verify(ctx, docs, spark):
    cands = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "id_a INT, id_b INT")
    out = run_op(ctx, "dedup.ngram_jaccard", [docs, cands], column="text",
                 id_column="doc_id", shingle="token", threshold=0.7)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] >= 0.7
    assert (1, 4) not in got  # candidate given but fails verification


def test_dedup_ngram_jaccard_rejects_bad_max_df(ctx, docs):
    with pytest.raises(ConfigError, match="max_df"):
        run_op(ctx, "dedup.ngram_jaccard", [docs], column="text",
               id_column="doc_id", max_df=0)


def test_fingerprint_normalizes_formatting(ctx, docs):
    out = run_op(ctx, "text.fingerprint", [docs], column="text")
    fp = {r["doc_id"]: r["fingerprint"] for r in out.collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[4]
    # doc 5 differs only by case/punct/whitespace — except the accent
    assert fp[5] != fp[1]  # 'thé' keeps non-ascii removed -> 'th'


def test_knn_brute(ctx, spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 1.0]),
        ],
        "vec_id INT, embedding ARRAY<FLOAT>",
    )
    out = run_op(ctx, "knn.brute", [vecs], id_column="vec_id", k=2, query_ids=[1])
    rows = out.orderBy("rank").collect()
    assert rows[0]["neighbor_id"] == 2 and rows[0]["rank"] == 1
    assert rows[0]["cosine"] > 0.99
    # second input as query set
    q = vecs.filter("vec_id = 3")
    out = run_op(ctx, "knn.brute", [vecs, q], id_column="vec_id", k=1)
    assert out.first()["neighbor_id"] == 2


def test_knn_ivf_prunes_buckets(ctx, spark):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [1.0, 0.01], 1)],
        "vec_id INT, embedding ARRAY<FLOAT>, label INT",
    )
    out = run_op(ctx, "knn.ivf", [vecs], id_column="vec_id", bucket_column="label",
                 k=5, query_ids=[1])
    ids = {r["neighbor_id"] for r in out.collect()}
    assert ids == {2}  # 3 is closer in cosine but lives in another bucket


def test_knn_ivf_gemm_matches_join(ctx, spark):
    """The cogrouped GEMM must agree with knn.brute run on each
    bucket's slice on every (query, rank) -> (neighbor, cosine)
    assignment; the retired method="join" runs the same engine."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
            for i in range(60)]
    vecs = spark.createDataFrame(
        rows, "vec_id INT, embedding ARRAY<FLOAT>, label INT"
    )
    kw = dict(id_column="vec_id", bucket_column="label", k=4,
              query_ids=[0, 1, 2, 5, 7])
    as_set = lambda df: {tuple(r) for r in df.collect()}
    gemm = as_set(run_op(ctx, "knn.ivf", [vecs], **kw))
    ref = as_set(knn_ivf_reference(ctx, vecs, **kw))
    join = as_set(run_op(ctx, "knn.ivf", [vecs], method="join", **kw))
    assert gemm == ref == join and len(gemm) == 5 * 4


def test_dedup_embedding_gemm_matches_join(ctx, spark):
    """The per-bucket GEMM must emit the same (id_a, id_b, round-6
    cosine) triples as the unbucketed pair join run on each bucket's
    slice; the retired method="join" runs the same engine."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
            for i in range(40)]
    vecs = spark.createDataFrame(
        rows, "vec_id INT, embedding ARRAY<FLOAT>, label INT"
    )
    kw = dict(id_column="vec_id", bucket_column="label", threshold=0.2)
    gemm = run_op(ctx, "dedup.embedding", [vecs], **kw)
    ref = dedup_embedding_reference(ctx, vecs, **kw)
    join = run_op(ctx, "dedup.embedding", [vecs], method="join", **kw)
    as_set = lambda df: {(r["id_a"], r["id_b"], r["cosine"]) for r in df.collect()}
    got = as_set(gemm)
    assert got == as_set(ref) == as_set(join)
    assert got  # non-vacuous: threshold 0.2 keeps some pairs


def test_dedup_embedding_gemm_no_self_pairs_on_duplicate_ids(ctx, spark):
    """Two rows sharing an id must not pair with each other (strict
    a.id < b.id, as the unbucketed pair join), and a NULL bucket
    pairs with nothing."""
    vecs = spark.createDataFrame(
        [(7, [1.0, 0.0], 0), (7, [1.0, 0.01], 0), (9, [1.0, 0.02], 0),
         (11, [1.0, 0.0], None)],
        "vec_id INT, embedding ARRAY<FLOAT>, label INT",
    )
    kw = dict(id_column="vec_id", bucket_column="label", threshold=0.5)
    got = sorted((r["id_a"], r["id_b"]) for r in
                 run_op(ctx, "dedup.embedding", [vecs], **kw).collect())
    assert got == [(7, 9), (7, 9)]  # both id-7 rows pair with 9 only


def test_dedup_embedding_allow_full_uses_distributed_join(ctx, spark):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.1]), (3, [0.0, 1.0])],
        "vec_id INT, embedding ARRAY<FLOAT>",
    )
    out = run_op(ctx, "dedup.embedding", [vecs], id_column="vec_id",
                 allow_full=True, threshold=0.9)
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {(1, 2)}
    # keyless GEMM would funnel everything into one Python worker —
    # the plan must be the cross join, not applyInPandas
    assert "FlatMapGroupsInPandas" not in out._jdf.queryExecution().executedPlan().toString()


def test_vector_ops_tolerate_null_and_ragged_vectors(ctx, spark):
    """A NULL or odd-length embedding must not crash the GEMM paths:
    a NULL vector matches nothing and only same-length vectors pair
    (a cross-length cosine is undefined)."""
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, None, 0),
         (4, [1.0, 0.0, 0.0], 0), (5, [0.9, 0.1, 0.05], 0)],
        "vec_id INT, embedding ARRAY<FLOAT>, label INT",
    )
    kw = dict(id_column="vec_id", bucket_column="label", threshold=0.5)
    as_set = lambda d: sorted((r["id_a"], r["id_b"]) for r in d.collect())
    got = as_set(run_op(ctx, "dedup.embedding", [vecs], **kw))
    assert got == [(1, 2), (4, 5)]  # only same-length pairs
    kw2 = dict(id_column="vec_id", bucket_column="label", k=2,
               query_ids=[1, 3, 4])
    g = sorted(tuple(r) for r in run_op(ctx, "knn.ivf", [vecs], **kw2).collect())
    # one same-length neighbor each; null-vector query 3 matches nothing
    assert g == [(1, 2, 0.993884, 1), (4, 5, 0.992372, 1)]


def test_knn_ivf_gemm_drops_null_buckets_like_join(ctx, spark):
    """A NULL bucket matches nothing, not even another NULL bucket
    (the null-unsafe bucket equality of a pair join)."""
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0], None), (2, [0.9, 0.1], None), (3, [1.0, 0.1], 0),
         (4, [0.9, 0.0], 0)],
        "vec_id INT, embedding ARRAY<FLOAT>, label INT",
    )
    kw = dict(id_column="vec_id", bucket_column="label", k=2,
              query_ids=[1, 3])
    got = {tuple(r) for r in run_op(ctx, "knn.ivf", [vecs], **kw).collect()}
    assert got == {(3, 4, 0.995037, 1)}  # null-bucket query 1 matches nothing


def test_dedup_embedding_requires_bucket(ctx, spark):
    vecs = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id INT, embedding ARRAY<FLOAT>")
    with pytest.raises(ConfigError, match="cross join"):
        run_op(ctx, "dedup.embedding", [vecs], id_column="vec_id")


_LSH_PQ = dict(id_column="vec_id", k=2, dim=4, bits=4, bands=2,
               verify="pq", m=2, codewords=3, rerank=4)


@pytest.mark.parametrize("op, param, retired, cfg", [
    ("knn.ivf", "method", "join",
     dict(id_column="vec_id", bucket_column="label", k=3,
          query_ids=[0, 1, 4])),
    ("dedup.embedding", "method", "join",
     dict(id_column="vec_id", bucket_column="label", threshold=0.2)),
    ("embedding.pca", "moments", "entries",
     dict(id_column="vec_id", components=2, iterations=4)),
    ("embedding.pq", "encode_method", "gemm",
     dict(id_column="vec_id", m=2, k=3, iterations=2)),
    ("embedding.pq_encode", "encode_method", "gemm",
     dict(id_column="vec_id")),
    ("embedding.assign_cells", "encode_method", "gemm", {}),
    ("knn.lsh", "encode_method", "gemm", _LSH_PQ),
    ("knn.lsh", "signature_method", "gemm",
     dict(id_column="vec_id", k=3, dim=4, bits=8, bands=2)),
])
def test_retired_engine_params_are_aliases(ctx, spark, op, param, retired, cfg):
    """A retired engine param still validates its value (an unknown
    one raises, not silently picks an engine), and every allowed value
    runs the one engine: output identical to the default."""
    import random

    from conveyor_spark.registry import get_function

    rng = random.Random(5)
    vecs = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(4)], i % 2) for i in range(20)],
        "vec_id INT, embedding ARRAY<FLOAT>, label INT",
    )
    # the pretrained table the encode ops read as their second input
    tables = {
        "embedding.pq_encode": lambda: run_op(
            ctx, "embedding.pq", [vecs], id_column="vec_id", m=2, k=3,
            iterations=2, output="codebooks"),
        "embedding.assign_cells": lambda: run_op(
            ctx, "embedding.kmeans", [vecs], id_column="vec_id", k=3,
            iterations=2, output="centroids"),
    }
    inputs = [vecs] + ([tables[op]()] if op in tables else [])
    with pytest.raises(ConfigError, match=param):
        run_op(ctx, op, inputs, **{param: "GEMM"}, **cfg)
    as_set = lambda d: sorted(tuple(r) for r in d.collect())
    default = as_set(run_op(ctx, op, inputs, **cfg))
    assert default  # non-vacuous
    allowed = next(p.allowed for p in get_function(op).params
                   if p.name == param)
    assert retired in allowed
    for value in allowed:
        got = as_set(run_op(ctx, op, inputs, **{param: value}, **cfg))
        assert got == default, value


def _vecs_with_id(spark, id_sql: str):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 1.0], 0),
         (4, [1.0, 0.05], 1), (5, [0.95, 0.0], 1)],
        "vec_id INT, embedding ARRAY<FLOAT>, label INT",
    )
    return vecs, vecs.selectExpr(f"{id_sql} AS vec_id", "embedding", "label")


def test_dedup_embedding_year_month_interval_id_uses_pair_join(ctx, spark):
    """Arrow cannot return a year-month interval, so such an id takes
    the pair join: the same pairs as integer ids, not a build error."""
    vecs, iv = _vecs_with_id(spark, "make_ym_interval(vec_id, 0)")
    kw = dict(id_column="vec_id", bucket_column="label", threshold=0.5)
    got = run_op(ctx, "dedup.embedding", [iv], **kw).selectExpr(
        "extract(YEAR FROM id_a)", "extract(YEAR FROM id_b)", "cosine")
    expected = {tuple(r) for r in
                run_op(ctx, "dedup.embedding", [vecs], **kw).collect()}
    assert {tuple(r) for r in got.collect()} == expected
    assert len(expected) == 2


@pytest.mark.parametrize("bucket", [{"bucket_column": "label"},
                                    {"allow_full": True}])
def test_dedup_embedding_rejects_calendar_interval_id(ctx, spark, bucket):
    """Neither engine can take a calendar interval id (Arrow cannot
    return it, the pair join cannot order it): a ConfigError naming
    the column at build time, not Spark's "does not support ordering"."""
    _, iv = _vecs_with_id(spark, "make_interval(0, 0, 0, vec_id)")
    with pytest.raises(ConfigError, match="'vec_id'.*cast"):
        run_op(ctx, "dedup.embedding", [iv], id_column="vec_id",
               threshold=0.5, **bucket)


@pytest.mark.parametrize("id_sql", [
    "make_ym_interval(vec_id, 0)", "make_interval(0, 0, 0, vec_id)",
])
def test_knn_ivf_rejects_interval_id(ctx, spark, id_sql):
    """The per-bucket cogroup cannot return a year-month or calendar
    interval id: a ConfigError naming the column, not a Spark error."""
    _, iv = _vecs_with_id(spark, id_sql)
    with pytest.raises(ConfigError, match="'vec_id'.*cast"):
        run_op(ctx, "knn.ivf", [iv], id_column="vec_id",
               bucket_column="label", k=2)


def test_text_quality_and_langid(ctx, spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in a house for a while it is nice"),
            (2, "der hund und die katze ist nicht mit der maus zu hause"),
            (3, "xyzzy plugh"),
        ],
        "doc_id INT, text STRING",
    )
    lang = run_op(ctx, "text.language_id", [df], column="text")
    got = {r["doc_id"]: r["pred_lang"] for r in lang.collect()}
    assert got == {1: "en", 2: "de", 3: "und"}
    q = run_op(ctx, "text.quality", [df], column="text")
    rows = {r["doc_id"]: r for r in q.collect()}
    assert rows[1]["quality_score"] > rows[3]["quality_score"]
    assert rows[1]["n_tokens"] == 15


def test_token_count(ctx, spark):
    df = spark.createDataFrame([(1, "hello world, abcdefgh!")], "doc_id INT, text STRING")
    out = run_op(ctx, "text.token_count", [df], column="text").first()
    assert out["ws_tokens"] == 3
    # ceil(5/4)+ceil(5/4)+ceil(8/4) + 2 punct = 2+2+2+2
    assert out["bpe_tokens"] == 8


def test_media_decode_fake_and_real(ctx, spark):
    df = spark.createDataFrame([(1, bytearray(b"imagebytes"))], "id INT, data BINARY")
    out = run_op(ctx, "media.decode", [df], column="data").first()
    meta = out["media_meta"]
    assert 64 <= meta["width"] < 256 and meta["n_bytes"] == 10
    assert meta["format"] in ("png", "jpeg", "webp")
    # codec='real' now truly decodes (tests/test_codecs.py); junk
    # bytes null out by default and raise under on_error='fail'
    got = run_op(ctx, "media.decode", [df], column="data", codec="real").first()
    assert got["media_meta"] is None
    with pytest.raises(Exception, match="undecodable"):
        run_op(ctx, "media.decode", [df], column="data", codec="real",
               on_error="fail").collect()


def test_frame_sample(ctx, spark):
    df = spark.createDataFrame([(1, bytearray(b"video")), (2, None)], "id INT, data BINARY")
    out = run_op(ctx, "media.frame_sample", [df], column="data", id_column="id", n_frames=3)
    rows = out.collect()
    assert len(rows) == 3  # null binary contributes no frames
    assert {r["frame_idx"] for r in rows} == {0, 1, 2}


def test_split_assign_deterministic(ctx, spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], "id BIGINT")
    a = run_op(ctx, "split.assign", [df], id_column="id")
    b = run_op(ctx, "split.assign", [df.repartition(7)], id_column="id")
    ra = {r["id"]: r["split"] for r in a.collect()}
    rb = {r["id"]: r["split"] for r in b.collect()}
    assert ra == rb  # invariant to partitioning
    from collections import Counter

    dist = Counter(ra.values())
    assert 0.75 < dist["train"] / 2000 < 0.85
    assert 0.05 < dist["val"] / 2000 < 0.15
    with pytest.raises(ConfigError, match="sum to 1"):
        run_op(ctx, "split.assign", [df], id_column="id", fractions={"a": 0.5})


def test_sample_apply(ctx, spark):
    df = spark.createDataFrame([(i,) for i in range(10000)], "id BIGINT")
    s = run_op(ctx, "sample.apply", [df], fraction=0.1, seed=7)
    assert 700 < s.count() < 1300
    with pytest.raises(ConfigError, match="fraction"):
        run_op(ctx, "sample.apply", [df], fraction=2.0)


def test_split_assign_null_ids(ctx, spark):
    import pytest as _pytest

    from conveyor_spark.errors import ConfigError

    df = spark.createDataFrame([(1,), (None,), (2,)], "id INT")
    # default: loud failure on NULL ids
    with _pytest.raises(Exception, match="NULL in id_column"):
        run_op(ctx, "split.assign", [df], id_column="id").collect()
    # hash mode: nulls land in ONE deterministic split, not silently
    # in the rounding-remainder (last) split
    hashed = run_op(ctx, "split.assign", [df], id_column="id", on_null="hash")
    splits = {r["id"]: r["split"] for r in hashed.collect()}
    assert splits[None] in {"train", "val", "test"}
    # explicit split name
    pinned = run_op(ctx, "split.assign", [df], id_column="id", on_null="val")
    assert {r["split"] for r in pinned.collect() if r["id"] is None} == {"val"}
    with _pytest.raises(ConfigError, match="on_null"):
        run_op(ctx, "split.assign", [df], id_column="id", on_null="nope")


def test_stream_count_window_rejects_zero_size(ctx, spark, sf_dir):
    from conveyor_spark.streaming.ops import read_file_stream

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    sdf = read_file_stream(spark, sf_dir, batch.schema, "parquet",
                           options={"pathGlobFilter": "events.parquet"})
    from conveyor_spark.errors import ConfigError

    with pytest.raises(ConfigError, match="size must be >= 1"):
        run_op(ctx, "stream.count_window", [sdf], size=0, key_columns="event_type")


def test_dedup_components_converging(ctx, spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (10, 11)], "id_a INT, id_b INT"
    )
    out = {r["id"]: (r["component"], r["is_canonical"])
           for r in run_op(ctx, "dedup.components", [pairs]).collect()}
    assert out == {1: (1, True), 2: (1, False), 3: (1, False),
                   5: (5, True), 6: (5, False),
                   8: (8, True), 9: (8, False), 10: (8, False), 11: (8, False)}


def test_dedup_components_chain_needs_iterations(ctx, spark):
    # a 6-long chain: diameter 5 -> fixed iterations=2 is NOT enough,
    # the converging default is
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], "id_a INT, id_b INT")
    fixed = run_op(ctx, "dedup.components", [chain], iterations=2)
    assert len({r["component"] for r in fixed.collect()}) > 1
    conv = run_op(ctx, "dedup.components", [chain])
    assert {r["component"] for r in conv.collect()} == {1}


def test_dedup_components_empty_and_bad_cols(ctx, spark):
    empty = spark.createDataFrame([], "id_a INT, id_b INT")
    assert run_op(ctx, "dedup.components", [empty]).count() == 0
    other = spark.createDataFrame([(1, 2)], "x INT, y INT")
    with pytest.raises(ConfigError, match="pair columns"):
        run_op(ctx, "dedup.components", [other])
    renamed = run_op(ctx, "dedup.components", [other], pair_a="x", pair_b="y")
    assert renamed.count() == 2


def test_media_metadata_sniffs_magic(ctx, spark):
    from tests.conftest import run_op

    rows = [
        (1, bytes.fromhex("89504E470D0A1A0A") + b"data"),
        (2, bytes.fromhex("FFD8FFE0") + b"jpg"),
        (3, b"RIFF\x00\x00\x00\x00WAVEfmt "),
        (4, b"RIFF\x00\x00\x00\x00WEBPVP8 "),
        (5, b"\x00\x00\x00\x18ftypmp42rest"),
        (6, b"plain text bytes"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "id BIGINT, blob BINARY")
    out = {r["id"]: (r["media_format"], r["media_bytes"]) for r in run_op(
        ctx, "media.metadata", [df], column="blob").collect()}
    assert out[1] == ("png", 12)
    assert out[2] == ("jpeg", 7)
    assert out[3][0] == "wav" and out[4][0] == "webp"
    assert out[5][0] == "mp4"
    assert out[6][0] == "unknown"
    assert out[7] == ("unknown", None)  # null blob: no format, no size

    plan = run_op(ctx, "media.metadata", [df], column="blob")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_knn_lsh_two_input_and_validation(ctx, spark):
    import pytest as _pytest
    from conveyor_spark.errors import ConfigError
    from tests.conftest import run_op

    corpus = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 0.5]) for i in range(30)], ["id", "embedding"]
    )
    queries = spark.createDataFrame([(100, [1.0, 1.0, 0.5])], ["id", "embedding"])
    out = run_op(ctx, "knn.lsh", [corpus, queries], id_column="id", k=5,
                 dim=3, bits=8, bands=4)
    rows = out.collect()
    assert 0 < len(rows) <= 5
    assert all(r["query_id"] == 100 for r in rows)
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))

    with _pytest.raises(ConfigError):
        run_op(ctx, "knn.lsh", [corpus], id_column="id", bits=10, bands=4, dim=3)
    with _pytest.raises(ConfigError):
        run_op(ctx, "knn.lsh", [corpus], id_column="id")  # dim required


def test_knn_lsh_max_bucket_guard(ctx, spark):
    from tests.conftest import run_op

    # 50 identical vectors (one hot bucket family) + a few distinct
    dup = [(i, [1.0, 0.0, 0.0]) for i in range(50)]
    rest = [(100 + i, [0.0, 1.0, float(i)]) for i in range(5)]
    corpus = spark.createDataFrame(dup + rest, ["id", "embedding"])
    full = run_op(ctx, "knn.lsh", [corpus], id_column="id", k=3, dim=3,
                  bits=8, bands=4)
    capped = run_op(ctx, "knn.lsh", [corpus], id_column="id", k=3, dim=3,
                    bits=8, bands=4, max_bucket=10)
    # the duplicate cluster's buckets (>10 rows) are dropped: its
    # members lose candidates, the distinct tail keeps its results
    assert capped.count() < full.count()
    capped_q = {r["query_id"] for r in capped.collect()}
    assert any(q >= 100 for q in capped_q)


def test_knn_lsh_null_signature_rows_are_never_candidates(ctx, spark):
    """A vector with a NULL signature (NULL, wrong length, NULL
    element) has no band bucket: two vectors of the same wrong length
    never meet through NULL band values, whatever their cosine."""
    from tests.conftest import run_op

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [1.0, 0.0]),
         (4, [0.9, 0.1]), (5, [1.0, None, 0.0]), (6, [0.9, None, 0.0]),
         (7, None), (8, None)],
        "id INT, embedding ARRAY<FLOAT>",
    )
    out = run_op(ctx, "knn.lsh", [corpus], id_column="id", k=3, dim=3,
                 bits=4, bands=2)
    assert {(r["query_id"], r["neighbor_id"]) for r in out.collect()} == {
        (1, 2), (2, 1)}


def test_sample_stratified_deterministic_fractions(ctx, spark):
    import pytest as _pytest
    from conveyor_spark.errors import ConfigError
    from tests.conftest import run_op

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)], ["id", "lang"]
    )
    out = run_op(ctx, "sample.stratified", [df], by="lang", id_column="id",
                 fractions={"en": 0.2})
    rows = out.collect()
    en = sum(1 for r in rows if r["lang"] == "en")
    fr = sum(1 for r in rows if r["lang"] == "fr")
    assert fr == 1000                      # default_fraction 1.0 keeps all
    assert 120 <= en <= 280                # ~20% of 1000, hash-quantized
    again = {r["id"] for r in run_op(
        ctx, "sample.stratified", [df.repartition(13)], by="lang", id_column="id",
        fractions={"en": 0.2}).collect()}
    assert again == {r["id"] for r in rows}  # layout-invariant

    zero = run_op(ctx, "sample.stratified", [df], by="lang", id_column="id",
                  fractions={"en": 0.0, "fr": 0.0})
    assert zero.count() == 0
    with _pytest.raises(ConfigError):
        run_op(ctx, "sample.stratified", [df], by="lang", id_column="id",
               fractions={"en": 1.5})
    with _pytest.raises(ConfigError):
        run_op(ctx, "sample.stratified", [df], by="lang", id_column="id")


def test_dedup_incremental_modes(ctx, spark):
    from tests.conftest import run_op

    new = spark.createDataFrame(
        [(10, "aaa bbb ccc"), (11, "xxx yyy zzz"), (12, "aaa bbb ccc"), (13, "fresh text")],
        ["doc_id", "text"],
    )
    old = spark.createDataFrame(
        [(1, "xxx yyy zzz"), (2, "other corpus doc")], ["doc_id", "text"]
    )
    kept = run_op(ctx, "dedup.exact", [new, old], columns="text", id_column="doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [10, 13]

    pairs = run_op(ctx, "dedup.minhash", [new, old], column="text",
                   id_column="doc_id", num_hashes=8, bands=4,
                   shingle="char", ngram=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 11) in got    # new doc duplicates the corpus
    assert (10, 12) in got   # new-new duplicate
    assert all(a >= 10 or b >= 10 for a, b in got)  # never old-old


def test_pagerank_exact_matches_python_model(ctx, spark):
    """precision='exact' fixed-point pagerank equals a dict-based
    integer reference bit-for-bit (the reproducibility contract)."""
    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 3), (2, 3)]  # dup edge
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    out = run_op(ctx, "graph.pagerank", [df], iterations=5,
                 precision="exact")
    got = {r["node"]: r["rank"] for r in out.collect()}

    scale, d_num, d_den = 10**12, 8500, 10_000
    uniq = set(edges)
    nodes = sorted({s for s, _ in uniq} | {d for _, d in uniq})
    n = len(nodes)
    deg = {}
    for s, _ in uniq:
        deg[s] = deg.get(s, 0) + 1
    base = (scale * (d_den - d_num)) // (d_den * n)
    r = {v: scale // n for v in nodes}
    for _ in range(5):
        inflow = {v: 0 for v in nodes}
        for s, t in uniq:
            inflow[t] += (r[s] * d_num) // (d_den * deg[s])
        r = {v: base + inflow[v] for v in nodes}
    assert got == r


def test_pagerank_float_close_to_exact(ctx, spark):
    edges = [(i, (i * 3 + 1) % 7) for i in range(7)] + [(0, 3), (5, 3)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    fl = {r["node"]: r["rank"] for r in run_op(
        ctx, "graph.pagerank", [df], iterations=8).collect()}
    ex = {r["node"]: r["rank"] / 1e12 for r in run_op(
        ctx, "graph.pagerank", [df], iterations=8,
        precision="exact").collect()}
    assert set(fl) == set(ex)
    for v in fl:
        assert abs(fl[v] - ex[v]) < 1e-6, (v, fl[v], ex[v])


def test_pagerank_rejects_missing_columns(ctx, spark):
    df = spark.createDataFrame([(1, 2)], "a LONG, b LONG")
    with pytest.raises(ConfigError, match="src"):
        run_op(ctx, "graph.pagerank", [df])


def test_pagerank_output_column_collisions_safe(ctx, spark):
    """Review finding: output_column names colliding with the
    internal join columns (deg/src/dst) produced ambiguous-column
    errors or wrong ranks; 'node' is refused outright."""
    edges = [(1, 2), (2, 1), (1, 3)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    for name in ("deg", "src", "dst", "share", "inflow"):
        out = run_op(ctx, "graph.pagerank", [df], iterations=2,
                     precision="exact", output_column=name)
        got = {r["node"]: r[name] for r in out.collect()}
        assert len(got) == 3 and all(v > 0 for v in got.values())
    with pytest.raises(ConfigError, match="node"):
        run_op(ctx, "graph.pagerank", [df], output_column="node")


def test_dedup_substring_finds_planted_spans(ctx, spark):
    common = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (1, f"one two {common} three four"),
        (2, f"{common} five six seven"),
        (3, "totally different words here nothing shared at all"),
        (4, f"x y z {common} p q {common} r"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = run_op(ctx, "dedup.substring", [df], column="text",
                 id_column="doc_id", min_length=8, max_df=1.0)
    got = {(r["id_a"], r["id_b"], r["start_a"], r["start_b"], r["length"])
           for r in out.collect()}
    # doc1[2:10] == doc2[0:8] == doc4[3:11] == doc4[13:21] (the
    # 8-token common block); no doc3 hits
    assert (1, 2, 2, 0, 8) in got
    assert (1, 4, 2, 3, 8) in got and (1, 4, 2, 13, 8) in got
    assert (2, 4, 0, 3, 8) in got and (2, 4, 0, 13, 8) in got
    assert not any(3 in (a, b) for a, b, *_ in got)


def test_dedup_substring_maximal_not_fragmented(ctx, spark):
    """A 12-token shared run with min_length=5 must come back as ONE
    span of length 12, not 8 overlapping 5-grams."""
    words = " ".join(f"w{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, f"pre {words} postA"), (2, f"{words} tailB unique2")],
        "doc_id LONG, text STRING")
    out = run_op(ctx, "dedup.substring", [df], column="text",
                 id_column="doc_id", min_length=5, max_df=1.0)
    got = [(r["start_a"], r["start_b"], r["length"]) for r in out.collect()]
    assert got == [(1, 0, 12)], got


def test_dedup_substring_max_df_prunes_boilerplate(ctx, spark):
    boiler = " ".join(f"b{i}" for i in range(6))
    rows = [(i, f"doc {i} says {boiler}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    # boilerplate gram is in 100% of docs; max_df=0.5 prunes it
    out = run_op(ctx, "dedup.substring", [df], column="text",
                 id_column="doc_id", min_length=6, max_df=0.5)
    assert out.count() == 0
    # with pruning off, all C(10,2) pairs share the span
    out2 = run_op(ctx, "dedup.substring", [df], column="text",
                  id_column="doc_id", min_length=6, max_df=1.0)
    assert out2.count() == 45


def test_cut_spans_removes_detected_duplicates(ctx, spark):
    """detect -> cut composition: the duplicated block disappears
    from the LATER doc; the earlier doc keeps it."""
    common = " ".join(f"c{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, f"one two {common} end1"),
         (2, f"{common} tail here"),
         (3, "no duplicates at all in this one")],
        "doc_id LONG, text STRING")
    spans = run_op(ctx, "dedup.substring", [df], column="text",
                   id_column="doc_id", min_length=8, max_df=1.0)
    out = run_op(ctx, "text.cut_spans", [df, spans], column="text",
                 id_column="doc_id", output_column="cut",
                 )
    got = {r["doc_id"]: (r["cut"], r["n_cut_tokens"]) for r in out.collect()}
    assert got[2] == ("tail here", 8)       # block cut from the later doc
    assert got[1][1] == 0 and "c3" in got[1][0]  # earlier doc intact
    assert got[3] == ("no duplicates at all in this one", 0)


def test_cut_spans_overlapping_ranges(ctx, spark):
    df = spark.createDataFrame([(1, "a b c d e f g h")],
                               "doc_id LONG, text STRING")
    spans = spark.createDataFrame(
        [(0, 1, 2, 1, 4), (0, 1, 4, 4, 3)],
        "id_a LONG, id_b LONG, start_a INT, start_b INT, length INT")
    out = run_op(ctx, "text.cut_spans", [df, spans], column="text",
                 id_column="doc_id")
    row = out.collect()[0]
    # tokens 1..4 and 4..6 cut -> keep indices 0, 7
    assert row["text"] == "a h" and row["n_cut_tokens"] == 6


def test_cut_spans_empty_blank_null_docs(ctx, spark):
    """Review finding: the phantom-pad index trick made empty docs
    report n_cut_tokens = -1; blank and NULL text must come back as
    ('', 0)."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "real words here")],
        "doc_id LONG, text STRING")
    spans = spark.createDataFrame(
        [], "id_a LONG, id_b LONG, start_a INT, start_b INT, length INT")
    out = run_op(ctx, "text.cut_spans", [df, spans], column="text",
                 id_column="doc_id")
    got = {r["doc_id"]: (r["text"], r["n_cut_tokens"]) for r in out.collect()}
    assert got[1] == ("", 0) and got[2] == ("", 0) and got[3] == ("", 0)
    assert got[4] == ("real words here", 0)


def test_substring_accepts_string_ids(ctx, spark):
    """Review finding: the long cast crashed UUID/string doc ids
    under ANSI; ids are only compared, never computed on."""
    common = " ".join(f"s{i}" for i in range(8))
    df = spark.createDataFrame(
        [("doc-a", f"x {common} y"), ("doc-b", f"{common} z")],
        "doc_id STRING, text STRING")
    out = run_op(ctx, "dedup.substring", [df], column="text",
                 id_column="doc_id", min_length=8, max_df=1.0)
    got = [(r["id_a"], r["id_b"], r["length"]) for r in out.collect()]
    assert got == [("doc-a", "doc-b", 8)]


def test_substring_verify_repairs_hash_collisions(ctx, spark, monkeypatch):
    """Review finding: verify used to DROP a whole island when a
    collision merged into a true run (false positive -> false
    negative). Force mass collisions with a degenerate hash: the
    verified output must equal the true-hash output exactly."""
    import conveyor_spark.datapipe.substring as sub
    from pyspark.sql import functions as F

    common = " ".join(f"t{i}" for i in range(9))
    docs = [
        (1, f"aa bb {common} cc dd"),
        (2, f"{common} ee ff gg hh"),
        (3, "qq ww ee rr tt yy uu ii oo pp zz xx"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    truth = {(r["id_a"], r["id_b"], r["start_a"], r["start_b"], r["length"])
             for r in run_op(ctx, "dedup.substring", [df], column="text",
                             id_column="doc_id", min_length=6,
                             max_df=1.0).collect()}
    assert truth  # the planted span is found

    # every gram of equal token-length collides now
    monkeypatch.setattr(sub, "md5_int",
                        lambda c: (F.length(c) % 4).cast("bigint"))
    got = {(r["id_a"], r["id_b"], r["start_a"], r["start_b"], r["length"])
           for r in run_op(ctx, "dedup.substring", [df], column="text",
                           id_column="doc_id", min_length=6,
                           max_df=1.0).collect()}
    assert got == truth, (got, truth)


def test_dedup_ngram_jaccard_verify_and_pair_names(ctx, docs, spark):
    # verify=true (string-exact recount) must agree with the default
    # 128-bit-hash counting on the same corpus...
    base = run_op(ctx, "dedup.ngram_jaccard", [docs], column="text",
                  id_column="doc_id", shingle="token", threshold=0.7,
                  max_df=0.9)
    ver = run_op(ctx, "dedup.ngram_jaccard", [docs], column="text",
                 id_column="doc_id", shingle="token", threshold=0.7,
                 max_df=0.9, verify=True)
    as_map = lambda df: {(r[0], r[1]): round(r[2], 12) for r in df.collect()}
    assert as_map(base) == as_map(ver)

    # ...and pair_a/pair_b name the OUTPUT columns in every mode
    # (review finding: self-join mode silently ignored them)
    named = run_op(ctx, "dedup.ngram_jaccard", [docs], column="text",
                   id_column="doc_id", shingle="token", threshold=0.7,
                   max_df=0.9, pair_a="left_id", pair_b="right_id")
    assert named.columns == ["left_id", "right_id", "jaccard"]
    cands = spark.createDataFrame([(1, 2)], "left_id INT, right_id INT")
    out = run_op(ctx, "dedup.ngram_jaccard", [docs, cands], column="text",
                 id_column="doc_id", shingle="token", threshold=0.7,
                 pair_a="left_id", pair_b="right_id")
    assert out.columns == ["left_id", "right_id", "jaccard"]
    assert out.count() == 1
