"""Web-corpus curation recipes: the Gopher quality rules and the C4
line/page cleaning pass.

``quality.gopher`` — the document-level heuristic filter from Rae et
al. 2021 (Gopher, Appendix A1.1), reused verbatim by MassiveText /
Dolma / RefinedWeb-class pipelines: word-count bounds, mean word
length bounds, symbol-to-word ratio, bullet-start / ellipsis-end line
ratios, alphabetic-word ratio, and a required-stopword count. Unlike
``text.quality`` (a single blended score), this op emits the exact
named rule set as per-rule measurements + a pass flag, so downstream
audits can see WHICH rule rejected a document.

``text.c4_filter`` — the C4 cleaning pass from Raffel et al. 2020:
keep only lines that end in terminal punctuation, have at least
``min_line_words`` words, and don't mention javascript; drop pages
containing "lorem ipsum" or a curly brace, or with fewer than
``min_sentences`` sentences after line filtering.

Scale design: both ops are pure per-row JVM expressions (split /
filter / transform higher-order functions + regexp counts) — no
shuffle, no Python, linear in corpus bytes; ``widen`` spreads narrow
single-file test scans. All ratios are int/int divisions (bit-exact
across engines, no rounding — see text.quality's NOTE).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.dedup import tokens_expr, widen

# The 8 required stopwords from Gopher A1.1 (a document must contain
# at least `min_stopword_hits` distinct ones). Shared verbatim with
# the oracle SQL.
GOPHER_STOPWORDS: list[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]

BULLET_PREFIXES: list[str] = ["•", "‣", "-", "*"]


def _nonempty_lines(c: Column) -> Column:
    """Trimmed, non-empty lines of a text column."""
    # NOTES rule 6: never pass F.trim bare to transform — the array
    # index would arrive as trim's second argument.
    return F.filter(
        F.transform(F.split(c, r"\n"), lambda ln: F.trim(ln)),
        lambda ln: ln != "",
    )


def _count_matches(c: Column, pattern: str) -> Column:
    """Occurrences of a regex in a string (split-count, non-overlap)."""
    return F.size(F.split(c, pattern, -1)) - F.lit(1)


_GOPHER_OUT = [
    "gopher_words", "gopher_avg_word_len", "gopher_symbol_ratio",
    "gopher_bullet_ratio", "gopher_ellipsis_ratio", "gopher_alpha_ratio",
    "gopher_stop_hits", "gopher_pass",
]

_C4_OUT = ["c4_kept_lines", "c4_total_lines", "c4_sentences", "c4_page_ok"]


@register(
    "quality.gopher", kind="transform",
    doc="Gopher (Rae et al.) document quality rules, per-rule flags",
    params=[
        P("column", required=True, desc="Text column"),
        P("mode", default="annotate", allowed=("annotate", "filter"),
          desc="annotate = add rule measurements + gopher_pass; "
               "filter = keep passing rows, original columns only"),
        P("min_words", "integer", default=50, min=0,
          desc="Minimum whitespace word count"),
        P("max_words", "integer", default=100000, min=1,
          desc="Maximum whitespace word count"),
        P("min_avg_word_len", "float", default=3.0,
          desc="Minimum mean word length (chars)"),
        P("max_avg_word_len", "float", default=10.0,
          desc="Maximum mean word length (chars)"),
        P("max_symbol_ratio", "float", default=0.1,
          desc="Max (# + ellipsis) occurrences per word"),
        P("max_bullet_ratio", "float", default=0.9,
          desc="Max fraction of lines starting with a bullet"),
        P("max_ellipsis_ratio", "float", default=0.3,
          desc="Max fraction of lines ending with an ellipsis"),
        P("min_alpha_ratio", "float", default=0.8,
          desc="Min fraction of words containing a letter"),
        P("min_stopword_hits", "integer", default=2, min=0,
          desc="Required count of distinct Gopher stopwords"),
        P("widen", "any", default="auto",
          desc="Repartition narrow scans (False/int/auto)"),
    ],
    example={"column": "text", "mode": "annotate", "min_words": 5},
    tags=["text", "quality", "curation", "datapipe"],
)
def quality_gopher(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Output (annotate): the input plus gopher_words,
    gopher_avg_word_len, gopher_symbol_ratio, gopher_bullet_ratio,
    gopher_ellipsis_ratio, gopher_alpha_ratio, gopher_stop_hits and
    gopher_pass. NULL text fails (all measurements NULL, pass false).

    Rule set (defaults = the published thresholds): 50 <= words <=
    100k; 3 <= mean word length <= 10; (''#'' + ellipsis)/words <=
    0.1; <= 90% of lines bullet-started; <= 30% ellipsis-ended;
    >= 80% of words contain a letter; >= 2 of the 8 required
    stopwords present."""
    df = inputs[0]
    column = config.get("column")
    if column not in df.columns:
        raise ConfigError(f"quality.gopher: no column {column!r}")
    mode = config.get("mode", "annotate")
    min_words = int(config.get("min_words", 50))
    max_words = int(config.get("max_words", 100000))
    min_awl = float(config.get("min_avg_word_len", 3.0))
    max_awl = float(config.get("max_avg_word_len", 10.0))
    max_sym = float(config.get("max_symbol_ratio", 0.1))
    max_bullet = float(config.get("max_bullet_ratio", 0.9))
    max_ell = float(config.get("max_ellipsis_ratio", 0.3))
    min_alpha = float(config.get("min_alpha_ratio", 0.8))
    min_stops = int(config.get("min_stopword_hits", 2))
    clash = sorted(set(_GOPHER_OUT) & set(df.columns))
    if clash:
        raise ConfigError(
            f"quality.gopher would overwrite existing columns {clash}; "
            "rename them upstream")

    df = widen(ctx, df, config)
    c = F.col(column).cast("string")
    toks = tokens_expr(column, distinct=False, lowercase=False)
    words = F.size(toks).cast("bigint")
    wordsf = F.greatest(words, F.lit(1)).cast("double")
    # total token chars via one join — no per-token fold needed
    avg_len = F.length(F.array_join(toks, "")).cast("double") / wordsf
    symbols = (
        _count_matches(c, r"#") + _count_matches(c, "…")
        + _count_matches(c, r"\.{3}")
    )
    symbol_ratio = symbols.cast("double") / wordsf
    lines = _nonempty_lines(c)
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_lines = F.size(F.filter(
        lines,
        lambda ln: F.substring(ln, 1, 1).isin(*BULLET_PREFIXES),
    ))
    bullet_ratio = bullet_lines.cast("double") / n_lines
    ell_lines = F.size(F.filter(
        lines,
        lambda ln: ln.endswith("…") | ln.endswith("..."),
    ))
    ellipsis_ratio = ell_lines.cast("double") / n_lines
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    alpha_ratio = alpha_words.cast("double") / wordsf
    stop_hits = F.size(F.array_intersect(
        tokens_expr(column, distinct=True, lowercase=True),
        F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
    ))
    gopher_pass = F.coalesce(
        (words >= min_words) & (words <= max_words)
        & (avg_len >= min_awl) & (avg_len <= max_awl)
        & (symbol_ratio <= max_sym)
        & (bullet_ratio <= max_bullet)
        & (ellipsis_ratio <= max_ell)
        & (alpha_ratio >= min_alpha)
        & (stop_hits >= min_stops),
        F.lit(False),
    )
    out = (
        df.withColumn("gopher_words", words)
        .withColumn("gopher_avg_word_len", avg_len)
        .withColumn("gopher_symbol_ratio", symbol_ratio)
        .withColumn("gopher_bullet_ratio", bullet_ratio)
        .withColumn("gopher_ellipsis_ratio", ellipsis_ratio)
        .withColumn("gopher_alpha_ratio", alpha_ratio)
        .withColumn("gopher_stop_hits", stop_hits)
        .withColumn("gopher_pass", gopher_pass)
    )
    if mode == "filter":
        return out.filter(F.col("gopher_pass")).select(*df.columns)
    return out


TERMINAL_PUNCT: list[str] = [".", "!", "?", '"']


@register(
    "text.c4_filter", kind="transform",
    doc="C4 (Raffel et al.) line + page cleaning pass",
    params=[
        P("column", required=True, desc="Text column"),
        P("mode", default="clean", allowed=("annotate", "clean", "filter"),
          desc="annotate = flags only; clean = rewrite column to the "
               "kept lines + c4_page_ok; filter = also drop bad pages"),
        P("min_line_words", "integer", default=5, min=1,
          desc="Minimum words for a line to be kept"),
        P("min_sentences", "integer", default=3, min=0,
          desc="Minimum sentences (terminal punct) after line filtering"),
        P("widen", "any", default="auto",
          desc="Repartition narrow scans (False/int/auto)"),
    ],
    example={"column": "text", "mode": "annotate", "min_line_words": 2,
             "min_sentences": 1},
    tags=["text", "curation", "datapipe"],
)
def c4_filter(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """The C4 recipe: a line survives iff it ends with terminal
    punctuation ('.', '!', '?', '\"'), has >= min_line_words
    whitespace words, and doesn't contain 'javascript' (any case). A
    page is ok iff it contains no 'lorem ipsum', no '{', and the kept
    lines hold >= min_sentences sentences (terminal-punct count).

    Output: annotate = input + c4_kept_lines, c4_total_lines,
    c4_sentences, c4_page_ok; clean = those flags with the text
    column REWRITTEN to the kept lines (empty string when none — the
    engines' array_join([]) semantics differ, we pin '');
    filter = clean + keep only c4_page_ok rows, flags dropped.
    NULL text: flags NULL / page_ok false; clean keeps the NULL."""
    df = inputs[0]
    column = config.get("column")
    if column not in df.columns:
        raise ConfigError(f"text.c4_filter: no column {column!r}")
    mode = config.get("mode", "clean")
    min_line_words = int(config.get("min_line_words", 5))
    min_sentences = int(config.get("min_sentences", 3))
    clash = sorted(set(_C4_OUT) & set(df.columns))
    if clash:
        raise ConfigError(
            f"text.c4_filter would overwrite existing columns {clash}; "
            "rename them upstream")

    df = widen(ctx, df, config)
    c = F.col(column).cast("string")
    lines = _nonempty_lines(c)

    def line_ok(ln: Column) -> Column:
        last = F.substring(ln, -1, 1)
        n_words = F.size(F.filter(F.split(ln, r"\s+"), lambda t: t != ""))
        return (
            last.isin(*TERMINAL_PUNCT)
            & (n_words >= min_line_words)
            & ~F.lower(ln).contains("javascript")
        )

    # materialize the filtered lines once — sentences, the flags AND
    # the rewrite all read them; left inline, CollapseProject would
    # re-run the per-line filter per reference (NOTES playbook #7)
    df = df.withColumn("__c4_lines", lines) \
        .withColumn("__c4_kept", F.filter(F.col("__c4_lines"), line_ok)) \
        .withColumn("__c4_clean", F.array_join(F.col("__c4_kept"), "\n"))
    sentences = _count_matches(F.col("__c4_clean"), r"[.!?]")
    page_ok = F.coalesce(
        ~F.lower(c).contains("lorem ipsum")
        & ~c.contains("{")
        & (F.col("c4_sentences") >= min_sentences),
        F.lit(False),
    )
    out = (
        df.withColumn("c4_kept_lines", F.size(F.col("__c4_kept")))
        .withColumn("c4_total_lines", F.size(F.col("__c4_lines")))
        .withColumn("c4_sentences", sentences)
        .withColumn("c4_page_ok", page_ok)
    )
    if mode != "annotate":
        out = out.withColumn(
            column,
            F.when(c.isNull(), F.lit(None)).otherwise(F.col("__c4_clean")),
        )
    out = out.drop("__c4_lines", "__c4_kept", "__c4_clean")
    user_cols = [x for x in df.columns if not x.startswith("__c4_")]
    if mode == "filter":
        return out.filter(F.col("c4_page_ok")).select(*user_cols)
    return out


_READ_OUT = ["rd_words", "rd_sentences", "rd_syllables",
             "flesch_ease", "fk_grade"]


@register(
    "text.readability", kind="transform",
    doc="Flesch reading ease + Flesch-Kincaid grade per document",
    params=[
        P("column", required=True, desc="Text column"),
        P("widen", "any", default="auto",
          desc="Repartition narrow scans (False/int/auto)"),
    ],
    example={"column": "text"},
    tags=["text", "quality", "readability", "datapipe"],
)
def text_readability(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Adds rd_words, rd_sentences, rd_syllables, flesch_ease,
    fk_grade. Syllables per word use the standard vowel-group
    heuristic: count of [aeiouy]+ runs in the lowercased word, minus
    one for a silent trailing 'e' when more than one run, floored at
    1. Sentences = [.!?]+ runs, floored at 1. NULL text -> NULLs.

    Determinism: words/sentences/syllables are exact ints; both
    scores are one fixed double expression over them (int/int
    divisions then literal multiplies — same IEEE tree in any
    engine, the q129 ratio class). Scale: pure per-row JVM
    expressions, zero shuffle."""
    df = inputs[0]
    column = config.get("column")
    if column not in df.columns:
        raise ConfigError(f"text.readability: no column {column!r}")
    clash = sorted(set(_READ_OUT) & set(df.columns))
    if clash:
        raise ConfigError(
            f"text.readability would overwrite existing columns {clash}; "
            "rename them upstream")

    df = widen(ctx, df, config)
    c = F.col(column).cast("string")
    toks = tokens_expr(column, distinct=False, lowercase=True)

    def syllables(w):
        groups = F.size(F.split(w, "[aeiouy]+", -1)) - 1
        silent_e = (w.endswith("e") & (groups > 1)).cast("int")
        return F.greatest(groups - silent_e, F.lit(1))

    n_syl = F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, w: acc + syllables(w).cast("bigint"),
    )
    n_words = F.size(toks).cast("bigint")
    # greatest() skips NULLs, so a NULL text would read as 1 sentence
    # — keep the documented NULL -> NULL contract explicit
    n_sent = F.when(
        c.isNotNull(),
        F.greatest(F.size(F.split(c, "[.!?]+", -1)) - 1, F.lit(1)),
    ).cast("bigint")
    wf = F.greatest(n_words, F.lit(1)).cast("double")
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = n_syl.cast("double") / wf
    flesch = (F.lit(206.835) - F.lit(1.015) * wps
              - F.lit(84.6) * spw)
    fk = (F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59))
    return (
        df.withColumn("rd_words", n_words)
        .withColumn("rd_sentences", n_sent)
        .withColumn("rd_syllables", n_syl)
        .withColumn("flesch_ease", flesch)
        .withColumn("fk_grade", fk)
    )


@register(
    "text.dedup_lines", kind="transform",
    doc="Remove repeated lines within each document (RefinedWeb recipe)",
    params=[
        P("column", required=True, desc="Text column"),
        P("key", default="trim", allowed=("exact", "trim", "trim_lower"),
          desc="Line identity: raw, whitespace-trimmed, or case-folded"),
        P("mode", default="clean", allowed=("clean", "annotate"),
          desc="clean: rewrite the column; annotate: add columns only"),
        P("output_column", desc="Cleaned text column (default: in place)"),
        P("widen", "any", default="auto",
          desc="Spread narrow scans: auto / false / partition count"),
    ],
    example={"column": "text", "key": "trim"},
    tags=["text", "dedup", "cleaning", "web", "curation"],
)
def text_dedup_lines(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Keep only the FIRST occurrence of each repeated line inside a
    document — the within-page dedup step of RefinedWeb/Dolma-style
    cleaning (nav menus, cookie banners, and footers repeat VERBATIM
    inside a page; cross-document boilerplate is text.boilerplate's
    job). Line identity is configurable (``key``); blank lines are
    never deduplicated (they are structure, not content).

    Adds ``lines_removed`` (int); ``mode=clean`` also rewrites the
    text with survivors joined by newline.

    Scale: pure per-row array expressions — split, first-occurrence
    filter (array_position over the key array), join — zero shuffle,
    whole-stage codegen. Worst case O(lines^2) string compares per
    document, fine at page-sized line counts (the q146 oracle replays
    list_position identically)."""
    df = inputs[0]
    column = config.get("column")
    if column not in df.columns:
        raise ConfigError(f"text.dedup_lines: no column {column!r}")
    key_kind = config.get("key", "trim")
    mode = config.get("mode", "clean")
    out = config.get("output_column") or column
    if mode == "annotate" and config.get("output_column"):
        raise ConfigError(
            "text.dedup_lines: output_column has no effect in annotate "
            "mode (nothing is rewritten) — drop it or use mode=clean")
    if "lines_removed" in df.columns or (
        mode == "clean" and out != column and out in df.columns
    ):
        raise ConfigError(
            "text.dedup_lines would overwrite existing columns; set "
            "output_column (and drop any 'lines_removed')")

    df = widen(ctx, df, config)

    def keyed(line):
        if key_kind == "exact":
            return line
        if key_kind == "trim":
            return F.trim(line)
        return F.lower(F.trim(line))

    # materialize the split once, derive keys from the COLUMN (a
    # second `lines` reference would re-split per row — rule 7)
    lines = F.split(F.col(column).cast("string"), "\n")
    stage = df.withColumn("__lines", lines).withColumn(
        "__keys", F.transform(F.col("__lines"), lambda l: keyed(l)))
    # survivor positions: blank keys always survive; others survive
    # iff theirs is the FIRST occurrence of the key. NULL text must
    # be guarded EXPLICITLY: under ANSI-off size(NULL) is -1, so
    # sequence(1, size) would DESCEND ([1,0,-1]) and rewrite NULL
    # text to '' with lines_removed=-1 — the when() keeps NULL in
    # -> NULL out in both ANSI modes (same guard family as
    # text.winnow's coalesce and corpus.manifest's).
    is_null = F.col(column).isNull()
    surv = F.when(is_null, F.lit(None).cast("array<int>")).otherwise(
        F.filter(
            F.sequence(F.lit(1), F.size("__lines")),
            lambda i: (F.element_at(F.col("__keys"), i) == "") | (
                F.array_position(
                    F.col("__keys"), F.element_at(F.col("__keys"), i)
                ) == i.cast("bigint")
            ),
        )
    )
    stage = stage.withColumn("__surv", surv)
    removed = F.when(
        is_null, F.lit(None)
    ).otherwise(F.size("__lines") - F.size("__surv")).cast("int")
    cleaned = F.array_join(
        F.transform(F.col("__surv"),
                    lambda i: F.element_at(F.col("__lines"), i)),
        "\n",
    )
    stage = stage.withColumn("lines_removed", removed)
    if mode == "clean":
        # NULL surv -> transform NULL -> array_join NULL: stays NULL
        stage = stage.withColumn(out, cleaned)
    return stage.drop("__lines", "__keys", "__surv")
