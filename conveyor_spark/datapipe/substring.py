"""dedup.substring — maximal cross-document duplicate token spans.

The "exact substring dedup" pass of modern training-data pipelines
(Lee et al. 2021, "Deduplicating Training Data Makes Language Models
Better"): find every maximal span of >= min_length consecutive
tokens shared verbatim between two documents, so the pipeline can
cut the duplicated ranges rather than drop whole near-dup docs. The
reference paper builds a monolithic suffix array; the Spark-first
equivalent is a gram-diagonal construction that is pure relational
algebra and therefore shards, verifies, and ORACLE-checks:

1. tokenize each doc; emit one posting (gram_hash, id, pos) per
   min_length-token window — skinny rows, hash via the shared
   portable md5 (hashing.py) so DuckDB can replay it.
2. prune grams appearing in more than max_df of docs (boilerplate:
   headers, licenses) — the hot-gram guard every self-join op here
   carries. Pruning can only FRAGMENT a span crossing a boilerplate
   gram, never invent one.
3. self-join postings on the hash (id_a < id_b): matching windows.
4. gaps-and-islands per (id_a, id_b, diagonal = pos_a - pos_b):
   consecutive matches on one diagonal ARE one maximal span of
   length run + min_length - 1.
5. verify=true (default) re-attaches the token arrays and compares
   the actual slices, making the result exact even under a 60-bit
   hash collision (at 10^12 grams, expected collisions are real —
   the verify join is output-sized, so it is cheap insurance).

Scale: postings are O(tokens) skinny triples; the join shuffles
(hash) only; the islands window partitions by (id_a, id_b, diag) —
never global. Quadratic blowup concentrates exactly where real
duplication lives, like every dedup op in this family; max_df bounds
the boilerplate worst case.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from conveyor_spark.datapipe.hashing import md5_int
from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


def _islands_to_spans(pairs: DataFrame, k: int) -> DataFrame:
    """(id_a, id_b, pos_a, pos_b) gram matches -> maximal spans via
    gaps-and-islands per diagonal. Shared by the main path and the
    collision re-verify."""
    w = Window.partitionBy(
        "id_a", "id_b", F.col("pos_a") - F.col("pos_b")
    ).orderBy("pos_a")
    return (
        pairs.withColumn("__isl", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", F.col("pos_a") - F.col("pos_b"), "__isl")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count("*") + k - 1).cast("int").alias("length"),
        )
        .select("id_a", "id_b", "start_a", "start_b", "length")
    )


@register(
    "dedup.substring", kind="transform",
    doc="Maximal duplicate token spans (>= min_length) across documents",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id"),
        P("min_length", "integer", default=20, min=2,
          desc="Minimum span length in tokens (also the gram size)"),
        P("max_df", "float", default=0.05, min=0.0, max=1.0,
          desc="Drop grams present in more than this fraction of docs "
               "(boilerplate guard; may fragment spans crossing them)"),
        P("lowercase", "boolean", default=True, desc="Casefold first"),
        P("verify", "boolean", default=True,
          desc="Re-compare the actual token slices (exact under hash "
               "collisions; output-sized join)"),
    ],
    example={"column": "text", "id_column": "doc_id", "min_length": 10},
    tags=["dedup", "substring", "datapipe"],
)
def dedup_substring(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Output: (id_a, id_b, start_a, start_b, length) — token-indexed
    maximal shared spans, id_a < id_b, length >= min_length. Feed the
    ranges to a cutting pass (text.chunk/slice) or treat any hit as a
    near-dup edge for dedup.components."""
    df = inputs[0]
    column = config.get("column")
    id_column = config.get("id_column")
    k = int(config.get("min_length", 20))
    max_df = float(config.get("max_df", 0.05))
    lowercase = bool(config.get("lowercase", True))
    verify = bool(config.get("verify", True))

    from conveyor_spark.datapipe.dedup import tokens_expr, widen

    df = widen(ctx, df, config)  # a single-file scan would serialize
    # id used only for equality/ordering — never cast (UUID/string
    # ids must work like in every sibling dedup op)
    base = df.select(
        F.col(id_column).alias("id"),
        tokens_expr(column, distinct=False, lowercase=lowercase)
        .alias("__toks"),
    ).where(F.size("__toks") >= k)
    # the token table feeds the postings scan AND both verify joins
    # AND the doc count: materialize it once instead of re-splitting
    # the whole corpus 4x (the components/pagerank checkpoint pattern)
    base = base.localCheckpoint(eager=False)

    # one posting per window: (gram hash, id, pos). concat_ws folds
    # the k-token slice into one string hashed JVM-side.
    gram = md5_int(
        F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__p") + 1, k)))
    postings = (
        base.withColumn(
            "__p", F.explode(F.sequence(F.lit(0), F.size("__toks") - k)))
        .select(F.col("id"), F.col("__p").alias("pos"),
                gram.alias("h"))
    )

    if max_df < 1.0:
        n_docs = base.count()  # ids are unique per doc row
        cap = max(int(max_df * n_docs), 1)
        hot = (
            postings.groupBy("h")
            .agg(F.count_distinct("id").alias("df"))
            .where(F.col("df") > cap)
            .select("h")
        )
        # hot-gram decision table (<= 1/max_df rows): BOTH self-join
        # sides anti-join against it, and without persist each side
        # re-runs the full postings aggregate chain (r13; the
        # ngram_jaccard hot-shingle precedent)
        hot = ctx.persist(hot)
        postings = postings.join(F.broadcast(hot), "h", "left_anti")

    a = postings.select(F.col("h"), F.col("id").alias("id_a"),
                        F.col("pos").alias("pos_a"))
    b = postings.select(F.col("h"), F.col("id").alias("id_b"),
                        F.col("pos").alias("pos_b"))
    pairs = a.join(b, "h").where(F.col("id_a") < F.col("id_b")) \
        .select("id_a", "id_b", "pos_a", "pos_b")

    # gaps-and-islands on each diagonal: consecutive pos_a = one span
    spans = _islands_to_spans(pairs, k)

    if verify:
        ta = base.select(F.col("id").alias("id_a"),
                         F.col("__toks").alias("__ta"))
        tb = base.select(F.col("id").alias("id_b"),
                         F.col("__toks").alias("__tb"))
        checked = spans.join(ta, "id_a").join(tb, "id_b").withColumn(
            "__ok",
            F.slice(F.col("__ta"), F.col("start_a") + 1, F.col("length"))
            == F.slice(F.col("__tb"), F.col("start_b") + 1, F.col("length")),
        )
        # output-sized (one row per candidate span): the clean and
        # dirty branches otherwise EACH re-run the entire postings
        # self-join + islands window + both verify joins — the
        # query's dominant subtree, twice (r13: q113's before-plan is
        # a 138-node Union with the whole pipeline duplicated)
        checked = ctx.persist(checked)
        clean = checked.where("__ok").select(
            "id_a", "id_b", "start_a", "start_b", "length")
        # a hash collision that merged into a true run must not drop
        # the whole island: re-derive the VERIFIED gram matches inside
        # the mismatching candidates (a ~zero-row set) and re-island.
        # This is what makes 'exact under collisions' actually true —
        # plain slice-filtering would only turn false positives into
        # false negatives.
        dirty = checked.where("NOT __ok")
        repaired = _islands_to_spans(
            dirty.select(
                "id_a", "id_b",
                F.explode(
                    F.filter(
                        F.sequence(
                            F.lit(0), F.col("length") - F.lit(k)),
                        lambda i: F.slice(
                            F.col("__ta"), F.col("start_a") + i + 1, k)
                        == F.slice(
                            F.col("__tb"), F.col("start_b") + i + 1, k),
                    )
                ).alias("__off"),
                "start_a", "start_b",
            ).select(
                "id_a", "id_b",
                (F.col("start_a") + F.col("__off")).alias("pos_a"),
                (F.col("start_b") + F.col("__off")).alias("pos_b"),
            ),
            k,
        )
        spans = clean.unionByName(repaired)
    return spans


@register(
    "text.cut_spans", kind="transform", min_inputs=2, max_inputs=2,
    doc="Remove token ranges (e.g. dedup.substring hits) from documents",
    params=[
        P("column", required=True, desc="Text column to cut"),
        P("id_column", required=True, desc="Document id in the doc input"),
        P("span_id_column", default="id_b",
          desc="Doc id column in the spans input (dedup.substring "
               "convention: cut the LATER doc of each pair)"),
        P("start_column", default="start_b", desc="Span start (token index)"),
        P("length_column", default="length", desc="Span length (tokens)"),
        P("output_column", desc="Cut-text column (default: in place)"),
        P("count_column", default="n_cut_tokens",
          desc="Removed-token count column"),
        P("lowercase", "boolean", default=True,
          desc="Tokenization must match the span detector's"),
    ],
    example={"column": "text", "id_column": "doc_id"},
    tags=["dedup", "substring", "datapipe"],
)
def text_cut_spans(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """inputs = [documents, spans]. Drops every token whose index
    falls inside any of the doc's spans and rejoins the survivors
    with single spaces (tokenization — lowercase + whitespace split —
    must match dedup.substring's so indices line up). Docs with no
    spans pass through re-tokenized, so the output column is
    uniformly normalized.

    Scale: spans aggregate to one (id, ranges[]) row each (spans are
    output-sized, tiny next to the corpus); ONE left join back to the
    docs; the cut itself is a per-row JVM filter over (token, index)
    pairs — codegen, no Python. Overlapping ranges just both match;
    no merge pass needed."""
    docs, spans = inputs[0], inputs[1]
    column = config.get("column")
    id_column = config.get("id_column")
    sid = config.get("span_id_column", "id_b")
    start_c = config.get("start_column", "start_b")
    len_c = config.get("length_column", "length")
    for need in (sid, start_c, len_c):
        if need not in spans.columns:
            raise ConfigError(
                f"text.cut_spans: spans input lacks column {need!r} "
                f"(have {spans.columns})")
    out_col = config.get("output_column", column)
    count_col = config.get("count_column", "n_cut_tokens")
    lowercase = bool(config.get("lowercase", True))

    from conveyor_spark.datapipe.dedup import tokens_expr, widen

    docs = widen(ctx, docs, config)
    ranges = (
        spans.groupBy(F.col(sid).alias("__cut_id"))
        .agg(F.collect_list(
            F.struct(F.col(start_c).cast("int").alias("s"),
                     F.col(len_c).cast("int").alias("l"))).alias("__ranges"))
    )
    joined = docs.join(
        ranges, docs[id_column] == ranges["__cut_id"], "left"
    ).drop("__cut_id")
    rng = F.coalesce(
        F.col("__ranges"),
        F.array().cast("array<struct<s:int,l:int>>"),
    )
    # materialize tokens ONCE (null text -> empty doc); a repeated
    # split would re-evaluate the regex per expression subtree, and
    # the zip_with/sequence phantom-pad trick produced
    # n_cut_tokens = -1 on empty docs
    toks_once = F.coalesce(
        tokens_expr(column, distinct=False, lowercase=lowercase),
        F.array().cast("array<string>"),
    )
    kept_idx = F.when(
        F.size("__toks") > 0,
        F.filter(
            F.sequence(F.lit(0), F.size("__toks") - 1),
            lambda i: ~F.exists(
                rng, lambda r: (i >= r["s"]) & (i < r["s"] + r["l"])
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    out = (
        joined.withColumn("__toks", toks_once)
        .withColumn("__keep", kept_idx)
        .withColumn(
            count_col,
            (F.size("__toks") - F.size("__keep")).cast("int"),
        )
        .withColumn(
            out_col,
            F.array_join(
                F.transform(
                    F.col("__keep"),
                    lambda i: F.element_at(F.col("__toks"), i + 1),
                ),
                " ",
            ),
        )
        .drop("__ranges", "__toks", "__keep")
    )
    return out
