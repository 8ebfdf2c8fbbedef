"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting.

All pure JVM expressions (split/regexp/array ops) — these run inside
whole-stage codegen and scale linearly with no shuffle (per-row maps).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.dedup import tokens_expr

# Small stopword lists for the n-gram/stopword language heuristic.
# Deliberately tiny + deterministic (shared verbatim with oracle SQL).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "du", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "para"],
}

DEFAULT_STOPWORDS = STOPWORDS["en"]


def token_count_expr(col: str) -> Column:
    return F.size(tokens_expr(col, distinct=False))


def stopword_hits_expr(col: str, words: list[str]) -> Column:
    return F.size(F.array_intersect(tokens_expr(col), F.array(*[F.lit(w) for w in words])))


@register(
    "text.language_id", kind="transform", doc="Stopword-overlap language heuristic",
    params=[
        P("column", required=True, desc="Text column"),
        P("output_column", default="pred_lang", desc="Predicted-language column"),
    ],
    example={"column": "text"},
    tags=["text", "language", "datapipe"],
)
def language_id(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Predict language = argmax of distinct-stopword overlap; ties and
    zero-hit rows -> 'und' (undetermined). Deterministic: languages are
    compared in sorted order, strictly-greater wins."""
    df = inputs[0]
    column = config.get("column")
    output_column = config.get("output_column", "pred_lang")
    langs = sorted(config.get("languages", STOPWORDS))
    # Materialize tokens once, then per-language hit counts once; the
    # argmax CASE only touches the small int columns. Without these
    # projections the folded CASE chain inlines the tokenizer ~40x
    # per row (found via tools/explain_audit.py).
    toks = df.withColumn("__li_toks", tokens_expr(column))
    hits = toks.select(
        "*",
        *[
            F.size(
                F.array_intersect(
                    F.col("__li_toks"), F.array(*[F.lit(w) for w in STOPWORDS[lang]])
                )
            ).alias(f"__li_h_{lang}")
            for lang in langs
        ],
    )
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in langs:
        h = F.col(f"__li_h_{lang}")
        better = h > best_hits
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(better, h).otherwise(best_hits)
    return hits.withColumn(output_column, best_lang).drop(
        "__li_toks", *[f"__li_h_{lang}" for lang in langs]
    )


@register(
    "text.quality", kind="transform", doc="Heuristic document quality features + score",
    params=[P("column", required=True, desc="Text column")],
    example={"column": "text"},
    tags=["text", "quality", "datapipe"],
)
def text_quality(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Adds n_tokens, avg_token_len, punct_ratio, digit_ratio,
    stopword_ratio, quality_score in [0,1]. Mirrors the usual
    Gopher/C4-style length+symbol+stopword filters."""
    df = inputs[0]
    column = config.get("column")
    c = F.col(column)
    n_chars = F.length(c)
    n_tokens = token_count_expr(column)
    # NOTE: ratios are left un-rounded on purpose — integer/integer
    # division of identical inputs is bit-identical across engines,
    # while decimal rounding of doubles is not (Spark rounds the
    # shortest decimal repr, others round the binary value).
    avg_tok = n_chars.cast("double") / F.greatest(n_tokens, F.lit(1))
    n_punct = F.length(F.regexp_replace(c, r"[^.!?,;:]", ""))
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    n_digit = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    digit_ratio = n_digit.cast("double") / F.greatest(n_chars, F.lit(1))
    sw_hits = stopword_hits_expr(column, DEFAULT_STOPWORDS)
    sw_ratio = sw_hits.cast("double") / F.lit(float(len(DEFAULT_STOPWORDS)))
    # score: in-range token count + low symbol noise + stopword signal
    len_ok = (n_tokens >= 10) & (n_tokens <= 100000)
    score = (
        0.4 * len_ok.cast("double")
        + 0.3 * (1.0 - F.least(punct_ratio * 5, F.lit(1.0)))
        + 0.3 * F.least(sw_ratio * 2, F.lit(1.0))
    )
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("avg_token_len", avg_tok)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("digit_ratio", digit_ratio)
        .withColumn("stopword_ratio", sw_ratio)
        .withColumn("quality_score", score)
    )


@register(
    "text.token_count", kind="transform", doc="Whitespace + BPE-ish token counts",
    params=[P("column", required=True, desc="Text column")],
    example={"column": "text"},
    tags=["text", "tokens", "datapipe"],
)
def token_count(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """ws_tokens = whitespace tokens; bpe_tokens = BPE-ish estimate
    (pieces after splitting on word boundaries/punct, ~chars/4 floor)."""
    df = inputs[0]
    column = config.get("column")
    c = F.col(column)
    ws = token_count_expr(column)
    # BPE-ish: words contribute ceil(len/4), punctuation/digits 1 each
    pieces = F.filter(F.split(F.lower(c), r"[^a-z0-9]+"), lambda t: t != "")
    bpe = F.aggregate(
        pieces,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("bigint"),
    ) + F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", ""))
    return df.withColumn("ws_tokens", ws).withColumn("bpe_tokens", bpe)


@register(
    "text.fingerprint", kind="transform", doc="Normalized-content md5 fingerprint",
    params=[
        P("column", required=True, desc="Text column"),
        P("output_column", default="fingerprint", desc="Fingerprint column"),
    ],
    example={"column": "text"},
    tags=["text", "fingerprint", "datapipe"],
)
def fingerprint(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """md5 of casefolded text with punctuation stripped and whitespace
    collapsed — robust to formatting-only edits; pair with dedup.exact."""
    df = inputs[0]
    column = config.get("column")
    output_column = config.get("output_column", "fingerprint")
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(F.col(column)), r"[^a-z0-9\s]", ""), r"\s+", " ")
    )
    return df.withColumn(output_column, F.md5(norm))


def _symbol_run_lengths(df: DataFrame, column: str, unit: str):
    """Per-row symbol histogram machinery shared by text.entropy and
    text.gini: sort the char/token array, find run boundaries, and
    derive per-distinct-symbol counts (exact ints). Returns
    (staged df with __syms/__b, n symbols expr, counts array expr)."""
    text = F.col(column).cast("string")
    if unit == "char":
        syms = F.when(F.length(text) == 0, F.array().cast("array<string>")) \
            .otherwise(F.transform(
                F.sequence(F.lit(1), F.length(text)),
                lambda i: F.substring(text, i, F.lit(1)),
            ))
    else:
        syms = tokens_expr(column, distinct=False)
    stage = df.withColumn("__syms", F.array_sort(syms))
    n = F.size("__syms")
    # when() (not |) keeps element_at(syms, i-1) unevaluated at i=1 —
    # index 0 is an INVALID_ARRAY_INDEX error under ANSI
    bounds = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: F.when(i == 1, F.lit(True)).otherwise(
            F.element_at(F.col("__syms"), i)
            != F.element_at(F.col("__syms"), i - 1)
        ),
    )
    stage = stage.withColumn(
        "__b",
        F.when(n == 0, F.array().cast("array<int>"))
        .otherwise(bounds.cast("array<int>")),
    )
    counts = F.transform(
        F.sequence(F.lit(0), F.size("__b") - 1),
        lambda j: F.when(
            j + 1 < F.size("__b"),
            F.element_at(F.col("__b"), j + 2),
        ).otherwise(n + 1) - F.element_at(F.col("__b"), j + 1),
    )
    return stage, n, counts


@register(
    "text.entropy", kind="transform",
    doc="Shannon entropy of the symbol distribution (gibberish signal)",
    params=[
        P("column", required=True, desc="Text column"),
        P("unit", default="char", allowed=("char", "token"),
          desc="Symbol unit: characters or whitespace tokens"),
        P("output_column", default="entropy", desc="Entropy column (nats)"),
        P("widen", "any", default="auto",
          desc="Spread narrow scans: auto / false / partition count"),
    ],
    example={"column": "text", "unit": "char"},
    tags=["text", "quality", "curation", "datapipe"],
)
def text_entropy(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Per-row Shannon entropy (nats) of the character or token
    distribution — the cheap compression-ratio proxy: binary-ish noise
    and base64 blobs score high, keyboard mashing and repeated
    boilerplate score low, natural language sits in a stable band
    (~2.2-3.2 nats/char for English). Pairs with text.repetition
    (which catches STRUCTURED repetition; entropy catches skewed
    symbol histograms in general).

    Computed as ln(n) - (1/n) * sum c_i * ln(c_i) over run lengths of
    the SORTED symbol array — exact int counts, one double expr per
    distinct symbol, folded in sorted-symbol order (deterministic in
    any engine; q141 replays it). NULL for empty/NULL text.

    Scale: pure per-row array exprs in codegen — zero shuffle; the
    sort is per-document O(n log n) on the row's own symbols."""
    df = inputs[0]
    column = config.get("column")
    if column not in df.columns:
        raise ConfigError(f"text.entropy: no column {column!r}")
    unit = config.get("unit", "char")
    out = config.get("output_column", "entropy")
    if out in df.columns:
        raise ConfigError(
            f"text.entropy would overwrite existing column {out!r}; "
            "set output_column")

    from conveyor_spark.datapipe.dedup import widen

    df = widen(ctx, df, config)
    stage, n, counts = _symbol_run_lengths(df, column, unit)
    ent = F.when(
        n > 0,
        F.round(
            F.log(n.cast("double"))
            - F.aggregate(
                counts,
                F.lit(0.0),
                lambda acc, c: acc
                + c.cast("double") * F.log(c.cast("double")),
            ) / n.cast("double"),
            9,
        ) + F.lit(0.0),
    )
    return stage.withColumn(out, ent).drop("__syms", "__b")


@register(
    "text.gini", kind="transform",
    doc="Gini concentration of the symbol distribution (repetition signal)",
    params=[
        P("column", required=True, desc="Text column"),
        P("unit", default="token", allowed=("char", "token"),
          desc="Symbol unit: characters or whitespace tokens"),
        P("output_column", default="gini", desc="Gini column [0, 1)"),
        P("widen", "any", default="auto",
          desc="Spread narrow scans: auto / false / partition count"),
    ],
    example={"column": "text", "unit": "token"},
    tags=["text", "quality", "curation", "datapipe"],
)
def text_gini(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Per-row Gini coefficient of the symbol histogram — 0 for a
    perfectly uniform vocabulary, approaching 1 when a few symbols
    dominate. The concentration complement of text.entropy: entropy
    falls with FEWER distinct symbols, Gini rises with SKEW among
    whatever symbols exist — together they separate "small clean
    vocabulary" from "one token repeated 500 times" (SEO stuffing,
    log spam).

    Formula over the ASCENDING-sorted counts c_1..c_m (total T):
    G = 2 * (sum i*c_i) / (m*T) - (m+1)/m. Every aggregate is an
    exact int64; the final expression is two int-ratio divisions and
    a subtract — bit-identical in any engine with NO rounding needed
    (q150 replays it). NULL for empty/NULL text.

    Scale: pure per-row array exprs in codegen (the text.entropy
    run-length machinery + one integer fold) — zero shuffle."""
    df = inputs[0]
    column = config.get("column")
    if column not in df.columns:
        raise ConfigError(f"text.gini: no column {column!r}")
    unit = config.get("unit", "token")
    out = config.get("output_column", "gini")
    if out in df.columns:
        raise ConfigError(
            f"text.gini would overwrite existing column {out!r}; "
            "set output_column")

    from conveyor_spark.datapipe.dedup import widen

    df = widen(ctx, df, config)
    stage, n, counts = _symbol_run_lengths(df, column, unit)
    asc = F.array_sort(counts)
    m = F.size(asc)
    s_weighted = F.aggregate(
        F.zip_with(
            F.sequence(F.lit(1), m), asc,
            lambda i, c: i.cast("bigint") * c.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    gini = F.when(
        n > 0,
        F.lit(2.0) * s_weighted.cast("double")
        / (m.cast("bigint") * n.cast("bigint")).cast("double")
        - (m + 1).cast("double") / m.cast("double"),
    )
    return stage.withColumn(out, gini).drop("__syms", "__b")
