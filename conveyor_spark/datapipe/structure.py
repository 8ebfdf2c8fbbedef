"""Document structure + corpus audit: segmentation and manifests.

- ``text.split``: sentence / paragraph / line segmentation — the
  preprocessing in front of RAG chunking, per-sentence dedup, and
  sentence-level quality filters. Pure codegen string expressions
  (RE2-compatible patterns, no lookbehind), zero shuffle.
- ``corpus.manifest``: the training-freeze audit artifact (the Dolma/
  Pile release-notes table) — per-group row/token/char counts plus an
  ORDER-INSENSITIVE content hash (bit_xor of the portable 60-bit doc
  hash), so re-running the pipeline proves byte-identical corpus
  content with one tiny table diff, in any engine, under any
  partitioning.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.dedup import tokens_expr, widen
from conveyor_spark.datapipe.hashing import md5_int

# sentence boundary: punctuation followed by whitespace. A sentinel
# insertion + plain split instead of a lookbehind split, because the
# oracle engine (RE2) has no lookbehind — the two-step form runs
# identically on Java regex and RE2.
_SENTINEL = "\x1e"
_RULES = {
    "sentence": (r"([.!?])\s+", _SENTINEL),
    "paragraph": (r"\n\s*\n", None),  # blank line IS the separator
    "line": (r"\n", None),
}


@register(
    "text.split", kind="transform",
    doc="Split documents into sentences / paragraphs / lines",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id"),
        P("granularity", default="sentence",
          allowed=("sentence", "paragraph", "line"), desc="Split unit"),
        P("min_chars", "integer", default=1, min=1,
          desc="Drop parts shorter than this after trimming"),
        P("output_column", default="part", desc="Part text column"),
    ],
    example={"column": "text", "id_column": "doc_id",
             "granularity": "sentence"},
    tags=["text", "structure", "chunking", "curation"],
)
def text_split(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """One row per part: (id, part_id, part) with ``part_id`` counting
    the KEPT parts 0..n-1 (empties and sub-``min_chars`` parts drop
    before numbering). Sentences split after [.!?]+whitespace;
    paragraphs on blank lines; lines on newlines. Parts are trimmed.

    Scale: chained regexp_replace/split/filter/posexplode — whole-
    stage codegen, zero shuffle, linear; the patterns are RE2-safe so
    the oracle replays them exactly (q123)."""
    df = inputs[0]
    column = config.get("column")
    id_column = config.get("id_column")
    gran = config.get("granularity", "sentence")
    min_chars = int(config.get("min_chars", 1))
    if min_chars < 1:
        raise ConfigError("text.split: min_chars must be >= 1")
    out = config.get("output_column", "part")

    text = F.col(column).cast("string")
    pattern, sentinel = _RULES[gran]
    if sentinel is not None:
        # web-scraped/OCR text can already contain the U+001E record
        # separator — strip it first or pre-existing bytes would read
        # as sentence boundaries
        cleaned = F.replace(text, F.lit(sentinel), F.lit(""))
        pieces = F.split(
            F.regexp_replace(cleaned, pattern, "$1" + sentinel), sentinel
        )
    else:
        pieces = F.split(text, pattern)
    # NOTES rule 6: never hand transform() a 2-arg-capable callable —
    # F.trim(col, trimstr) would receive the ARRAY INDEX as trimstr
    kept = F.filter(
        F.transform(pieces, lambda p: F.trim(p)),
        lambda p: F.length(p) >= min_chars,
    )
    return df.select(
        F.col(id_column),
        F.posexplode(kept).alias("part_id", out),
    ).select(
        id_column, F.col("part_id").cast("int").alias("part_id"), out
    )


@register(
    "corpus.manifest", kind="transform",
    doc="Per-group corpus manifest: counts + order-insensitive hash",
    params=[
        P("column", required=True, desc="Text column"),
        P("by", "array", desc="Group columns (default: whole corpus)"),
        P("id_column", desc="If set, the content hash covers id||text "
                            "(detects id remapping, not just text)"),
    ],
    example={"column": "text", "by": ["language"]},
    tags=["audit", "reproducibility", "curation"],
)
def corpus_manifest(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """The training-freeze audit table: one row per group with
    ``n_docs``, ``n_tokens``, ``n_chars`` and ``content_hash`` — the
    bit_xor of each doc's portable 60-bit hash, which is invariant to
    row order and partitioning, so two pipeline runs produced the
    same corpus iff their manifests are equal (xor cancels nothing on
    real data: collisions need identical duplicate multisets).

    Publish it with the dataset (the Dolma/Pile release-notes table)
    and diff it on every re-run; at 100 TB the manifest is a few KB
    while a row-level diff is another 100 TB job.

    Scale: one aggregate pass, shuffle bounded by group count; every
    expression is codegen (md5/conv/xor)."""
    df = inputs[0]
    column = config.get("column")
    by = config.get("by") or []
    if isinstance(by, str):
        by = [by]
    id_column = config.get("id_column")

    text = F.col(column).cast("string")
    subject = (
        F.concat_ws("\x1f", F.col(id_column).cast("string"), text)
        if id_column else text
    )
    h = md5_int(subject)
    # size(NULL) is -1 under non-ANSI (legacy sizeOfNull) — without
    # the isNotNull guard each NULL-text doc would SUBTRACT one token
    # and the manifest would vary with the ANSI config, breaking its
    # entire invariance contract (and the DuckDB oracle, whose SUM
    # skips NULLs)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(
            text.isNotNull(), F.size(tokens_expr(column, distinct=False))
        )).alias("n_tokens"),
        F.sum(F.length(text)).alias("n_chars"),
        F.expr("bit_xor(__h)").alias("content_hash"),
    ]
    staged = df.withColumn("__h", h)
    grouped = staged.groupBy(*[F.col(c) for c in by]) if by \
        else staged.groupBy()
    return grouped.agg(*aggs)


@register(
    "text.cdc_chunk", kind="transform",
    doc="Content-defined chunking: insertion-robust chunk boundaries",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id column"),
        P("k", "integer", default=3, min=1,
          desc="Context tokens hashed for the boundary decision"),
        P("divisor", "integer", default=64, min=2,
          desc="Boundary probability 1/divisor (= expected chunk tokens)"),
        P("output_column", default="chunk", desc="Chunk text column"),
        P("widen", "any", default="auto",
          desc="Spread narrow scans: auto / false / partition count"),
    ],
    example={"column": "text", "id_column": "doc_id", "k": 2,
             "divisor": 8},
    tags=["text", "structure", "chunking", "dedup", "datapipe"],
)
def text_cdc_chunk(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS recipe on token
    streams): cut after token i whenever the 60-bit hash of the
    k-token window ending at i is ≡ 0 mod ``divisor``. Because the
    cut decision depends only on LOCAL content, inserting or deleting
    a paragraph shifts chunk CONTENTS only near the edit — every
    other chunk re-hashes identically, which is what makes chunk-hash
    dedup robust to small edits where fixed-size chunking (chunk.apply)
    resynchronizes nowhere.

    Output: one row per chunk — (id, chunk_index, chunk, chunk_tokens,
    chunk_hash) with ``chunk_hash`` the portable 60-bit hash of the
    chunk text (feed it straight to dedup.exact / dedup.incremental).
    Docs shorter than k tokens form a single chunk; empty docs emit
    nothing; a boundary on the last token creates no empty trailing
    chunk. Expected chunk length = ``divisor`` tokens (geometric).

    Scale: the entire chunking is per-document array expressions in
    whole-stage codegen — zero shuffle, no window, no explode before
    the final posexplode of kept chunks. ``widen`` spreads narrow
    single-file scans.

    Determinism: boundary hash and chunk hash are the portable md5
    forms; q138 replays the whole construction in DuckDB."""
    df = inputs[0]
    column = config.get("column")
    id_column = config.get("id_column")
    for c in (column, id_column):
        if c not in df.columns:
            raise ConfigError(f"text.cdc_chunk: no column {c!r}")
    k = int(config.get("k", 3))
    if k < 1:
        raise ConfigError("text.cdc_chunk: k must be >= 1")
    divisor = int(config.get("divisor", 64))
    if divisor < 2:
        raise ConfigError("text.cdc_chunk: divisor must be >= 2")
    out = config.get("output_column", "chunk")
    reserved = {"chunk_index", "chunk_tokens", "chunk_hash"}
    if out in reserved or out == id_column:
        raise ConfigError(
            f"text.cdc_chunk: output_column {out!r} collides with an "
            "emitted column")

    df = widen(ctx, df, config)
    # materialize tokens once (NOTES rule 8: lambdas re-evaluate outer
    # subtrees per element)
    stage = df.select(
        F.col(id_column).alias("__id"),
        tokens_expr(column, distinct=False).alias("__tk"),
    )
    n = F.size("__tk")
    # boundary positions: 0-based token i in [k-1, n-1] whose k-token
    # window hash ≡ 0 (mod divisor). Guard n < k — sequence() would
    # DESCEND for an inverted range (NOTES gotcha)
    gram_at = lambda i: F.concat_ws(" ", F.slice(F.col("__tk"), i - k + 2, k))  # noqa: E731
    bpos = F.when(n < k, F.array().cast("array<int>")).otherwise(
        F.filter(
            F.sequence(F.lit(k - 1), n - 1),
            lambda i: md5_int(gram_at(i)) % divisor == 0,
        ).cast("array<int>")
    )
    stage = stage.select("__id", "__tk", bpos.alias("__b"))
    starts = F.concat(
        F.array(F.lit(0)), F.transform("__b", lambda p: p + 1)
    )
    ends = F.concat(F.col("__b"), F.array(n - 1))
    # (start, end) pairs; start > end happens only for a boundary on
    # the final token — that empty trailing chunk is dropped
    pairs = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size("__b")),
            lambda j: F.struct(
                F.element_at(starts, j + 1).alias("s"),
                F.element_at(ends, j + 1).alias("e"),
            ),
        ),
        lambda p: p["s"] <= p["e"],
    )
    chunks = F.when(n == 0, F.array().cast("array<array<string>>")).otherwise(
        F.transform(
            pairs, lambda p: F.slice(F.col("__tk"), p["s"] + 1, p["e"] - p["s"] + 1)
        )
    )
    exploded = stage.select(
        "__id", F.posexplode(chunks).alias("__ci", "__c")
    )
    text_c = F.concat_ws(" ", F.col("__c"))
    return exploded.select(
        F.col("__id").alias(id_column),
        F.col("__ci").cast("int").alias("chunk_index"),
        text_c.alias(out),
        F.size("__c").alias("chunk_tokens"),
        md5_int(text_c).alias("chunk_hash"),
    )
