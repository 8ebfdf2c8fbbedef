"""text.split + corpus.manifest (structure.py)."""

from __future__ import annotations

import pytest

from conveyor_spark.errors import ConfigError
from tests.conftest import run_op


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "First one. Second two! Third?  Fourth\n\npara two\nline b"),
        (2, "no breaks here"),
        (3, None),
        (4, "  x. tiny!  "),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_split_sentences(ctx, docs):
    out = run_op(ctx, "text.split", [docs], column="text",
                 id_column="doc_id", granularity="sentence")
    got = {(r["doc_id"], r["part_id"]): r["part"] for r in out.collect()}
    assert got == {
        (1, 0): "First one.", (1, 1): "Second two!", (1, 2): "Third?",
        (1, 3): "Fourth\n\npara two\nline b",
        (2, 0): "no breaks here",
        (4, 0): "x.", (4, 1): "tiny!",
    }
    # min_chars renumbers the KEPT parts: 'x.' (2 chars) drops,
    # 'tiny!' becomes part 0
    out2 = run_op(ctx, "text.split", [docs], column="text",
                  id_column="doc_id", granularity="sentence", min_chars=3)
    got2 = {(r["doc_id"], r["part_id"]): r["part"] for r in out2.collect()}
    assert got2[(4, 0)] == "tiny!" and (4, 1) not in got2


def test_split_paragraphs_and_lines(ctx, docs):
    paras = run_op(ctx, "text.split", [docs], column="text",
                   id_column="doc_id", granularity="paragraph")
    got = [r["part"] for r in paras.filter("doc_id = 1")
           .orderBy("part_id").collect()]
    assert got == ["First one. Second two! Third?  Fourth",
                   "para two\nline b"]
    lines = run_op(ctx, "text.split", [docs], column="text",
                   id_column="doc_id", granularity="line")
    got_l = [r["part"] for r in lines.filter("doc_id = 1")
             .orderBy("part_id").collect()]
    assert got_l == ["First one. Second two! Third?  Fourth",
                     "para two", "line b"]


def test_split_errors(ctx, docs):
    with pytest.raises(ConfigError, match="granularity"):
        run_op(ctx, "text.split", [docs], column="text",
               id_column="doc_id", granularity="word")
    with pytest.raises(ConfigError, match="text.split: missing required parameter 'id_column'"):
        run_op(ctx, "text.split", [docs], column="text")
    with pytest.raises(ConfigError, match="min_chars"):
        run_op(ctx, "text.split", [docs], column="text",
               id_column="doc_id", min_chars=0)


def test_split_preexisting_sentinel_stripped(ctx, spark):
    """A doc already containing U+001E (OCR/web noise) must not grow
    phantom sentence boundaries from it."""
    df = spark.createDataFrame([(1, "abc\x1edef. end")],
                               "doc_id LONG, text STRING")
    out = run_op(ctx, "text.split", [df], column="text",
                 id_column="doc_id", granularity="sentence")
    got = [r["part"] for r in out.orderBy("part_id").collect()]
    assert got == ["abcdef.", "end"]


def test_manifest_null_text_invariant_under_ansi(ctx, spark):
    """size(NULL) = -1 under non-ANSI would make each NULL-text doc
    SUBTRACT a token from the manifest — the artifact must not vary
    with the ANSI config."""
    df = spark.createDataFrame([(1, "a b"), (2, None)],
                               "doc_id LONG, text STRING")
    old = spark.conf.get("spark.sql.ansi.enabled")
    try:
        results = {}
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            results[mode] = tuple(run_op(
                ctx, "corpus.manifest", [df], column="text",
                id_column="doc_id").collect()[0])
        assert results["true"] == results["false"]
        assert results["true"][1] == 2  # n_tokens from doc 1 only
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_manifest_order_insensitive_and_sensitive_to_content(ctx, spark, docs):
    base = run_op(ctx, "corpus.manifest", [docs], column="text",
                  id_column="doc_id").collect()[0]
    assert base["n_docs"] == 4
    # partitioning/order invariance
    for n in (1, 3):
        again = run_op(ctx, "corpus.manifest", [docs.repartition(n)],
                       column="text", id_column="doc_id").collect()[0]
        assert tuple(again) == tuple(base), n
    # one changed character flips the hash, counts barely move
    mutated = docs.selectExpr(
        "doc_id", "CASE WHEN doc_id = 2 THEN 'no breaks here!' "
                  "ELSE text END AS text")
    m = run_op(ctx, "corpus.manifest", [mutated], column="text",
               id_column="doc_id").collect()[0]
    assert m["content_hash"] != base["content_hash"]
    assert m["n_docs"] == base["n_docs"]
    # id remapping is visible ONLY with id_column
    remapped = docs.selectExpr("doc_id + 100 AS doc_id", "text")
    without_id = run_op(ctx, "corpus.manifest", [docs], column="text")
    without_id_r = run_op(ctx, "corpus.manifest", [remapped], column="text")
    assert without_id.collect()[0]["content_hash"] == \
        without_id_r.collect()[0]["content_hash"]
    with_id_r = run_op(ctx, "corpus.manifest", [remapped], column="text",
                       id_column="doc_id").collect()[0]
    assert with_id_r["content_hash"] != base["content_hash"]


def test_manifest_grouped(ctx, spark):
    rows = [(1, "a b", "en"), (2, "c", "en"), (3, "d e f", "de")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING")
    out = run_op(ctx, "corpus.manifest", [df], column="text", by=["lang"])
    got = {r["lang"]: (r["n_docs"], r["n_tokens"], r["n_chars"])
           for r in out.collect()}
    assert got == {"en": (2, 3, 4), "de": (1, 3, 5)}
