"""Corpus-curation operators: normalization, PII redaction,
repetition signals, benchmark decontamination.

The cleaning stages of an LLM training-data pipeline (C4 / Gopher /
RefinedWeb style) that sit between raw ingestion and dedup. Not in
the reference (its surface stops at relational ETL — see SURVEY.md
§2); first-class here because a 100 TB corpus build needs them.

Scale design:

- ``text.normalize`` / ``pii.redact`` / ``text.repetition`` are pure
  per-row JVM expressions (regexp/translate/array folds) — they run
  inside whole-stage codegen, shuffle nothing, and scale linearly
  with cores. Unicode NFC/NFKC (``form=``) is the one exception: the
  JVM has no SQL-level normalizer, so it drops to an Arrow-batched
  pandas iterator — opt-in, documented slow path.
- ``decontam.ngram`` broadcasts the *benchmark* shingle set (eval
  sets are small by definition — MMLU+GSM8K+HumanEval is ~100k
  grams) and flags corpus docs via a broadcast semi-join on exploded
  shingles: the corpus never shuffles its text, only the (small) set
  of contaminated ids.
"""

from __future__ import annotations

import re as _re
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.dedup import let_expr, tokens_expr, word_shingles_expr

# Fixed accent-fold table (both cases), applied via translate() —
# identical builtin exists in DuckDB, so the op stays oracle-checkable.
_ACCENT_SRC = "áàâäãåéèêëíìîïóòôöõúùûüýÿçñÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝÇÑ"
_ACCENT_DST = "aaaaaaeeeeiiiiooooouuuuyycnAAAAAAEEEEIIIIOOOOOUUUUYCN"


@register(
    "text.normalize", kind="transform", doc="Canonicalize text (case/space/punct/accents)",
    params=[
        P("column", required=True, desc="Text column"),
        P("output_column", desc="Result column (default: in place)"),
        P("lowercase", "boolean", default=True, desc="Lowercase"),
        P("collapse_whitespace", "boolean", default=True, desc="Collapse runs of whitespace"),
        P("trim", "boolean", default=True, desc="Strip leading/trailing whitespace"),
        P("strip_accents", "boolean", default=False, desc="Drop combining accents"),
        P("strip_punct", "boolean", default=False, desc="Drop punctuation"),
        P("form", default="none", allowed=("none", "nfc", "nfd", "nfkc", "nfkd"),
          desc="Unicode normalization form"),
    ],
    example={"column": "text", "strip_accents": True},
    tags=["text", "curation"],
)
def text_normalize(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Composable text canonicalization, all JVM-side by default.

    Config: ``column`` (required), ``output_column`` (default:
    overwrite in place), plus independent switches applied in a fixed
    order (accents -> case -> punct -> whitespace -> trim):

    - ``strip_accents`` (default false): fold the common Latin accent
      set via a fixed translate table.
    - ``lowercase`` (default true).
    - ``strip_punct`` (default false): drop everything outside
      ``[a-zA-Z0-9\\s]`` (run *after* lowercase so the class is small).
    - ``collapse_whitespace`` (default true): any whitespace run -> one
      space.
    - ``trim`` (default true).
    - ``form`` (default "none"): nfc/nfd/nfkc/nfkd Unicode
      normalization, applied FIRST via an Arrow-batched pandas
      iterator (the only non-codegen path here; opt-in because the
      JVM lacks a SQL-level normalizer).
    """
    df = inputs[0]
    column = config.get("column")
    out = config.get("output_column", column)
    form = config.get("form", "none")

    if form != "none":
        import unicodedata

        uform = form.upper()
        schema_out = df.withColumn(out, F.col(column).cast("string")).schema

        def normalize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                vals = pdf[column].map(
                    lambda s: unicodedata.normalize(uform, s) if isinstance(s, str) else s
                )
                pdf = pdf.copy()
                pdf[out] = vals
                yield pdf[[f.name for f in schema_out.fields]]

        df = df.mapInPandas(normalize_batches, schema=schema_out)
        c: Column = F.col(out)
    else:
        c = F.col(column).cast("string")

    if config.get("strip_accents", False):
        c = F.translate(c, _ACCENT_SRC, _ACCENT_DST)
    if config.get("lowercase", True):
        c = F.lower(c)
    if config.get("strip_punct", False):
        c = F.regexp_replace(c, r"[^a-zA-Z0-9\s]", "")
    if config.get("collapse_whitespace", True):
        c = F.regexp_replace(c, r"\s+", " ")
    if config.get("trim", True):
        c = F.trim(c)
    return df.withColumn(out, c)


# Redaction patterns: RE2-safe (no lookaround/backrefs) so the same
# pattern runs in Spark (java.util.regex) and DuckDB (RE2) with
# identical matches. Order matters and is fixed: URL before EMAIL
# (URLs can embed '@'), SSN/credit-card before PHONE (their digit
# shapes would otherwise be half-eaten by the phone pattern).
PII_PATTERNS: dict[str, str] = {
    "url": r"https?://[^\s]+",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "credit_card": r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}
_PII_ORDER = list(PII_PATTERNS)


@register(
    "pii.redact", kind="transform", doc="Regex-scrub emails/phones/IPs/SSNs/cards/URLs",
    params=[
        P("column", required=True, desc="Text column"),
        P("output_column", desc="Result column (default: in place)"),
        P("types", "array",
          desc="PII classes to scrub (default: all — email/phone/ip/ssn/card/url)"),
        P("replacement", default="[{type}]",
          desc="Replacement template ({type} substituted)"),
        P("with_counts", "boolean", default=False,
          desc="Add per-class redaction count columns"),
    ],
    example={"column": "text", "types": ["email", "phone"]},
    tags=["text", "pii", "curation"],
)
def pii_redact(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Replace PII spans with ``[TYPE]`` placeholder tokens.

    Config: ``column`` (required), ``output_column`` (default:
    overwrite), ``types`` (subset of url/email/ssn/credit_card/ipv4/
    phone; default all, applied in the fixed safe order regardless of
    list order), ``replacement`` (template, default ``[{type}]`` with
    ``{type}`` uppercased), ``with_counts`` (default false: also emit
    ``pii_<type>_count`` int columns, counted BEFORE redaction).

    Pure chained ``regexp_replace`` — codegen'd, zero shuffle, linear.
    """
    df = inputs[0]
    column = config.get("column")
    out = config.get("output_column", column)
    types = config.get("types", _PII_ORDER)
    unknown = [t for t in types if t not in PII_PATTERNS]
    if unknown:
        raise ConfigError(f"pii.redact: unknown types {unknown}; known: {_PII_ORDER}")
    ordered = [t for t in _PII_ORDER if t in set(types)]
    template = config.get("replacement", "[{type}]")

    src = F.col(column).cast("string")
    if config.get("with_counts", False):
        for t in ordered:
            df = df.withColumn(
                f"pii_{t}_count", F.regexp_count(src, F.lit(PII_PATTERNS[t]))
            )
    c = src
    for t in ordered:
        c = F.regexp_replace(c, PII_PATTERNS[t], template.format(type=t.upper()))
    return df.withColumn(out, c)


def _max_run_expr(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a SORTED array =
    max frequency of any element — one codegen'd fold, no shuffle."""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


@register(
    "text.repetition", kind="transform", doc="Gopher-style repetition ratios",
    params=[
        P("column", required=True, desc="Text column"),
        P("ngram", "integer", default=2, min=1, desc="N-gram size for dup ratios"),
    ],
    example={"column": "text", "ngram": 3},
    tags=["text", "quality", "curation"],
)
def text_repetition(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Per-document repetition signals (Gopher §A1.1 repetition
    filters): adds

    - ``line_dup_ratio``   — 1 - distinct_lines / lines
    - ``token_dup_ratio``  — 1 - distinct_tokens / tokens
    - ``top_ngram_ratio``  — occurrences of the most frequent word
      n-gram / total n-grams (``ngram`` config, default 2)

    All pure array expressions on the row (split / array_distinct /
    a sorted-fold max-run for the mode) — whole-stage codegen, no
    shuffle, linear scaling. Ratios are int/int doubles, which are
    bit-identical across engines (never rounded — see NOTES.md).
    Empty docs yield 0.0 for every ratio.
    """
    df = inputs[0]
    column = config.get("column")
    n = int(config.get("ngram", 2))
    if n < 1:
        raise ConfigError("text.repetition: ngram must be >= 1")

    c = F.col(column).cast("string")
    lines = F.filter(F.split(c, r"\n"), lambda x: F.trim(x) != "")
    toks = tokens_expr(column, distinct=False)

    def dup_ratio(arr: Column) -> Column:
        total = F.size(arr)
        return F.when(total <= 0, F.lit(0.0)).otherwise(
            F.lit(1.0)
            - F.size(F.array_distinct(arr)).cast("double") / total.cast("double")
        )

    # n-grams over tokens, NOT distinct'd (we need multiplicities).
    # let-bound: the lambda must slice the token ARRAY VARIABLE, not
    # the split() expression (else the split re-runs per index —
    # see dedup.let_expr).
    grams = let_expr(
        toks,
        lambda tk: F.when(F.size(tk) < n, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - n),
                lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
            )
        ),
    )
    df = df.withColumn("__rep_grams", grams)  # materialize once; the
    # fold below references it 3x and CollapseProject keeps non-cheap
    # multi-referenced subtrees as a named projection (NOTES.md #7).
    g = F.col("__rep_grams")
    top_ratio = F.when(F.size(g) <= 0, F.lit(0.0)).otherwise(
        _max_run_expr(F.array_sort(g)).cast("double") / F.size(g).cast("double")
    )
    return (
        df.withColumn("line_dup_ratio", dup_ratio(lines))
        .withColumn("token_dup_ratio", dup_ratio(toks))
        .withColumn("top_ngram_ratio", top_ratio)
        .drop("__rep_grams")
    )


@register(
    "decontam.ngram",
    kind="transform",
    min_inputs=2,
    max_inputs=2,
    doc="Flag/drop corpus docs sharing n-grams with a benchmark set",
    params=[
        P("column", required=True, desc="Corpus text column"),
        P("id_column", required=True, desc="Corpus document id"),
        P("bench_column", desc="Benchmark text column (default: column)"),
        P("ngram", "integer", default=8, min=1, desc="Shingle size in words"),
        P("mode", default="flag", allowed=("flag", "filter"),
          desc="Mark contaminated docs vs remove them"),
    ],
    example={"column": "text", "id_column": "doc_id", "ngram": 8, "mode": "filter"},
    tags=["decontamination", "curation"],
)
def decontam_ngram(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Benchmark decontamination: inputs = [corpus, benchmark].

    A corpus doc is *contaminated* if any of its word ``ngram``-shingles
    (default 8, the common eval-decontamination window) appears in any
    benchmark doc. Config: ``column`` (corpus text), ``id_column``,
    ``bench_column`` (default = column), ``ngram``, ``mode`` =
    ``flag`` (default: add boolean ``contaminated``) | ``filter``
    (drop contaminated rows).

    Scale: the benchmark shingle set is distinct'd and **broadcast**
    (eval sets are tiny next to a 100 TB corpus); corpus shingles are
    computed map-side and semi-joined against the broadcast — the
    corpus text itself never shuffles. ``flag`` mode shuffles only the
    contaminated id set (small), then broadcast-joins it back.
    """
    if len(inputs) != 2:
        raise ConfigError("decontam.ngram needs [corpus, benchmark] inputs")
    corpus, bench = inputs
    column = config.get("column")
    id_column = config.get("id_column")
    bench_column = config.get("bench_column", column)
    n = int(config.get("ngram", 8))
    mode = config.get("mode", "flag")

    bench_grams = (
        bench.select(F.explode(word_shingles_expr(bench_column, n)).alias("__gram"))
        .distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_column), F.explode(word_shingles_expr(column, n)).alias("__gram")
    )
    dirty_ids = (
        corpus_grams.join(F.broadcast(bench_grams), "__gram", "left_semi")
        .select(id_column)
        .distinct()
    )
    if mode == "filter":
        return corpus.join(F.broadcast(dirty_ids), id_column, "left_anti")
    flagged = dirty_ids.withColumn("contaminated", F.lit(True))
    return corpus.join(F.broadcast(flagged), id_column, "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )


# HTML strip stages, applied in this order. RE2-compatible (no
# backreferences/lookahead) so the SAME patterns run in DuckDB oracle
# SQL. Lazy quantifiers + (?is) work in both engines.
HTML_STRIP_STAGES: list[tuple[str, str]] = [
    (r"(?is)<script\b[^>]*>.*?</script>", " "),   # script bodies
    (r"(?is)<style\b[^>]*>.*?</style>", " "),     # style bodies
    (r"(?s)<!--.*?-->", " "),                     # comments
    (r"(?is)<br\s*/?>|</p>|</div>|</li>|</tr>|</h[1-6]>", "\n"),  # block ends -> newline
    (r"(?s)<[^>]+>", " "),                        # every remaining tag
]
_HTML_ENTITIES = [
    ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"),
]


@register(
    "text.extract", kind="transform", doc="Regex capture groups -> typed columns",
    params=[
        P("column", required=True, desc="Text column"),
        P("fields", "array", required=True,
          desc="[{name, pattern, type?, group?}] extraction specs"),
        P("keep_empty", "boolean", default=False,
          desc="Keep rows where nothing matched"),
    ],
    example={"column": "log",
             "fields": [{"name": "code", "pattern": "status=(\\d+)", "type": "int"}]},
    tags=["text", "extraction"],
)
def text_extract(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Structured extraction: pull regex capture groups out of a text
    column into new columns (log lines -> fields, IDs out of URLs,
    metrics out of config blobs).

    Config: ``column`` (required), ``fields`` — dict output_name ->
    {pattern, group (default 1), type (optional Spark cast, e.g.
    "int")}. Non-matches yield NULL (Spark's empty-string sentinel is
    normalized — an empty capture and a non-match are both NULL
    unless ``keep_empty=true``).

    Pure regexp_extract chain — codegen'd, zero shuffle; RE2-safe
    patterns keep it oracle-checkable.
    """
    df = inputs[0]
    column = config.get("column")
    fields = config.get("fields")
    keep_empty = bool(config.get("keep_empty", False))
    # declared array form [{name, pattern, ...}]; the dict form
    # {name: {pattern, ...}} is accepted for backward compatibility
    if isinstance(fields, list):
        named = {}
        for spec in fields:
            if not isinstance(spec, dict) or not spec.get("name"):
                raise ConfigError("text.extract: each field needs a 'name'")
            if spec["name"] in named:
                # last-wins would silently drop a copy-pasted field
                raise ConfigError(
                    f"text.extract: duplicate field name {spec['name']!r}"
                )
            named[spec["name"]] = spec
        fields = named
    for name, spec in fields.items():
        pattern = spec.get("pattern")
        if not pattern:
            raise ConfigError(f"text.extract: field {name!r} needs 'pattern'")
        c = F.regexp_extract(F.col(column).cast("string"), pattern, int(spec.get("group", 1)))
        if not keep_empty:
            c = F.when(c == "", None).otherwise(c)
        if cast := spec.get("type"):
            c = c.cast(cast)
        df = df.withColumn(name, c)
    return df


@register(
    "text.html_strip", kind="transform", doc="Strip HTML tags/entities to visible text",
    params=[
        P("column", required=True, desc="HTML text column"),
        P("output_column", desc="Result column (default: in place)"),
        P("decode_entities", "boolean", default=True, desc="Decode &amp; etc."),
        P("collapse_whitespace", "boolean", default=True, desc="Collapse whitespace"),
    ],
    example={"column": "html", "output_column": "text"},
    tags=["text", "html", "curation"],
)
def text_html_strip(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Web-corpus HTML -> visible text: drop script/style bodies and
    comments, turn block-level closes into newlines, strip remaining
    tags, decode the common entities, collapse horizontal whitespace.

    Config: ``column`` (required), ``output_column`` (default:
    overwrite), ``decode_entities`` (default true),
    ``collapse_whitespace`` (default true: runs of spaces/tabs -> one
    space, >2 newlines -> 2, then trim).

    Pure chained regexp_replace/replace — codegen'd, zero shuffle,
    linear; patterns are RE2-safe so the DuckDB oracle runs the SAME
    expressions. A real extraction pipeline may want a DOM parser for
    malformed markup; that would be an Arrow-batched opt-in like
    text.normalize's NFC path — the regex pass is the scale default.
    """
    df = inputs[0]
    column = config.get("column")
    out = config.get("output_column", column)
    c = F.col(column).cast("string")
    for pat, repl in HTML_STRIP_STAGES:
        c = F.regexp_replace(c, pat, repl)
    if config.get("decode_entities", True):
        for ent, ch in _HTML_ENTITIES:
            c = F.replace(c, F.lit(ent), F.lit(ch))
    if config.get("collapse_whitespace", True):
        c = F.regexp_replace(c, r"[ \t\r\f]+", " ")
        c = F.regexp_replace(c, r" ?\n ?", "\n")
        c = F.regexp_replace(c, r"\n{3,}", "\n\n")
        # regex trim: SQL trim() strips spaces only, not newlines
        c = F.regexp_replace(c, r"(?s)^\s+|\s+$", "")
    return df.withColumn(out, c)


@register(
    "text.boilerplate",
    kind="transform",
    doc="Detect/strip lines shared across many documents (per group)",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id"),
        P("group_by", "array",
          desc="Boilerplate scope (e.g. site/source); global when omitted"),
        P("min_df", "float", default=0.3, min=0.0, max=1.0,
          desc="A line is boilerplate above this document frequency"),
        P("min_docs", "integer", default=2, min=1,
          desc="...and when it appears in at least this many docs"),
        P("mode", default="strip", allowed=("strip", "flag"),
          desc="Remove the lines vs add a boilerplate-line column"),
    ],
    example={"column": "text", "id_column": "doc_id", "group_by": ["source"]},
    tags=["text", "boilerplate", "curation"],
)
def text_boilerplate(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Cross-document boilerplate removal (C4/RefinedWeb-style): a
    LINE is boilerplate when it appears in more than ``min_df`` of
    the documents in its ``group_by`` group (boilerplate is
    per-site/source — headers, footers, cookie banners).

    Config: ``column``, ``id_column`` (required), ``group_by``
    (column(s) scoping the frequency count; default: whole corpus),
    ``min_df`` (fraction, default 0.3), ``min_docs`` (absolute floor,
    default 2), ``mode`` = ``strip`` (default: rewrite the column
    with boilerplate lines removed) | ``flag`` (add
    ``boilerplate_ratio`` = boilerplate lines / lines).

    Scale: document text NEVER shuffles. Line document-frequencies
    come from exploding each doc's DISTINCT trimmed lines (an array
    expression, so a plain map-side-combinable count — no
    count_distinct carrying ids); the qualifying boiler-line set per
    group is tiny by construction (lines in ≥ min_df of docs) and
    broadcasts back onto the documents, where strip/flag happen
    INSIDE the row with codegen'd higher-order functions — no
    explode/reassembly shuffle of the corpus. Blank lines are
    preserved verbatim in strip mode (they are structure, not
    boilerplate)."""
    df = inputs[0]
    column = config.get("column")
    id_column = config.get("id_column")
    group_by = config.get("group_by") or []
    group_by = [group_by] if isinstance(group_by, str) else list(group_by)
    min_df = float(config.get("min_df", 0.3))
    if not (0 < min_df <= 1):
        raise ConfigError("text.boilerplate: min_df must be in (0, 1]")
    min_docs = int(config.get("min_docs", 2))
    mode = config.get("mode", "strip")

    lines_arr = F.split(F.col(column).cast("string"), r"\n")

    # one row per (group, distinct trimmed nonblank line, doc) —
    # distinct-per-doc via array ops; the doc id rides along so __df
    # counts DOCUMENTS (a doc id split across several input rows must
    # not multiply its lines' frequency, and __gtotal below is a
    # distinct-id count — both sides of the min_df ratio must agree)
    keys = df.select(
        *group_by,
        F.col(id_column).alias("__bid"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.transform(lines_arr, lambda l: F.trim(l)),
                    lambda k: k != "",
                )
            )
        ).alias("__key"),
    )
    dfreq = keys.groupBy(*group_by, "__key").agg(
        F.count_distinct("__bid").alias("__df")
    )

    totals = (
        df.groupBy(*group_by).agg(F.count_distinct(id_column).alias("__gtotal"))
        if group_by
        else df.agg(F.count_distinct(id_column).alias("__gtotal"))
    )
    joined = dfreq.join(F.broadcast(totals), on=group_by) if group_by else dfreq.crossJoin(
        F.broadcast(totals)
    )
    boiler = joined.filter(
        (F.col("__df") >= F.greatest(F.col("__gtotal") * F.lit(min_df), F.lit(float(min_docs))))
    ).select(*group_by, "__key")

    bsets = (
        boiler.groupBy(*group_by).agg(F.collect_set("__key").alias("__bset"))
        if group_by
        else boiler.agg(F.collect_set("__key").alias("__bset"))
    )
    marked = (
        df.join(F.broadcast(bsets), on=group_by, how="left")
        if group_by
        else df.crossJoin(F.broadcast(bsets))
    )
    bset = F.coalesce(F.col("__bset"), F.array().cast("array<string>"))

    if mode == "flag":
        n_boiler = F.size(F.filter(lines_arr, lambda l: F.array_contains(bset, F.trim(l))))
        n_nonblank = F.size(F.filter(lines_arr, lambda l: F.trim(l) != ""))
        return marked.withColumn(
            "boilerplate_ratio",
            n_boiler.cast("double")
            / F.greatest(n_nonblank, F.lit(1)).cast("double"),
        ).drop("__bset")

    rebuilt = F.array_join(
        F.filter(lines_arr, lambda l: ~F.array_contains(bset, F.trim(l))), "\n"
    )
    return marked.withColumn(column, F.coalesce(rebuilt, F.lit(""))).drop("__bset")


@register(
    "text.freq_score",
    kind="transform",
    min_inputs=1,
    max_inputs=2,
    doc="Corpus-frequency quality score per document",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id"),
        P("output_column", default="freq_score", desc="Score column"),
    ],
    example={"column": "text", "id_column": "doc_id"},
    tags=["text", "quality", "curation"],
)
def text_freq_score(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Statistical quality filter in the CCNet shape (score docs by a
    corpus language model; keep the head of the distribution):
    ``freq_score`` = (sum of each token's corpus count) /
    (doc_tokens * corpus_tokens) — the average corpus frequency of
    the document's tokens. Common fluent text scores high; gibberish,
    code dumps, and OOV-heavy noise score near zero.

    Deliberately an ARITHMETIC mean of token probabilities, not a
    log-prob: every intermediate is an exact int64 (counts) and the
    single final division is int/int -> double — bit-identical across
    engines and partitionings, where a sum of ln() doubles is neither
    (see NOTES.md determinism rules).

    inputs: [docs] (frequencies from the same corpus) or
    [docs, reference] (frequencies from a reference corpus; tokens
    unseen there count 0). Config: ``column``, ``id_column``
    (required), ``output_column`` (default ``freq_score``).

    Scale: one token-count aggregate (shuffle bounded by vocabulary,
    not corpus size), the corpus total rides as a broadcast 1-row
    aggregate, and the per-doc re-aggregate shuffles (id, count)
    pairs only — never the text.
    """
    docs = inputs[0]
    ref = inputs[1] if len(inputs) > 1 else docs
    column = config.get("column")
    id_column = config.get("id_column")
    out = config.get("output_column", "freq_score")

    ref_tokens = ref.select(F.explode(tokens_expr(column, distinct=False)).alias("__tok"))
    counts = ref_tokens.groupBy("__tok").agg(F.count(F.lit(1)).alias("__cnt"))
    total = counts.agg(F.sum("__cnt").alias("__total"))

    doc_tokens = docs.select(
        F.col(id_column), F.explode(tokens_expr(column, distinct=False)).alias("__tok")
    )
    per_doc = (
        doc_tokens.join(counts, on="__tok", how="left")
        .groupBy(id_column)
        .agg(
            F.sum(F.coalesce(F.col("__cnt"), F.lit(0))).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .join(F.broadcast(total))
        .select(
            id_column,
            (F.col("__s").cast("double") / (F.col("__n") * F.col("__total")).cast("double")).alias(out),
        )
    )
    joined = docs.join(per_doc, on=id_column, how="left")
    # empty docs produce no token rows -> null score -> 0.0
    return joined.withColumn(out, F.coalesce(F.col(out), F.lit(0.0)))


@register(
    "text.chunk", kind="transform",
    doc="Split documents into token-budget chunks with overlap",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id"),
        P("size", "integer", required=True, min=1, desc="Tokens per chunk"),
        P("overlap", "integer", default=0, min=0, desc="Tokens shared between chunks"),
        P("min_tokens", "integer", default=1, min=1,
          desc="Drop trailing chunks smaller than this"),
    ],
    example={"column": "text", "id_column": "doc_id", "size": 512, "overlap": 64},
    tags=["text", "chunking", "curation"],
)
def text_chunk(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Context-length preprocessing: split each document into chunks
    of ``size`` whitespace tokens, consecutive chunks overlapping by
    ``overlap`` tokens (the standard training/RAG chunker — NOT the
    row-batching of chunk.apply).

    Config: ``column``, ``id_column`` (required), ``size`` (tokens,
    required), ``overlap`` (default 0; must be < size),
    ``min_tokens`` (default 1: drop degenerate tail chunks shorter
    than this — an overlap-only tail repeats content the previous
    chunk already carries).

    Output: (id, chunk_id, chunk, n_tokens), chunk_id 0-based in
    document order. Pure per-row array expressions (let-bound token
    array, slices, one posexplode) — no shuffle, linear; empty docs
    yield no chunks.
    """
    df = inputs[0]
    column = config.get("column")
    id_column = config.get("id_column")
    size = int(config["size"])
    if size < 1:
        raise ConfigError("text.chunk requires 'size' >= 1 (tokens)")
    overlap = int(config.get("overlap", 0))
    if not 0 <= overlap < size:
        raise ConfigError("text.chunk: overlap must be in [0, size)")
    min_tokens = int(config.get("min_tokens", 1))
    step = size - overlap

    chunks = let_expr(
        tokens_expr(column, distinct=False),
        lambda tk: F.when(F.size(tk) <= 0, F.array().cast("array<struct<chunk:string,n_tokens:int>>"))
        .otherwise(
            F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.size(tk) - 1, F.lit(step)),
                    lambda s: F.struct(
                        F.concat_ws(" ", F.slice(tk, s + 1, size)).alias("chunk"),
                        F.least(F.size(tk) - s, F.lit(size)).cast("int").alias("n_tokens"),
                    ),
                ),
                lambda c: c["n_tokens"] >= min_tokens,
            )
        ),
    )
    return (
        df.select(F.col(id_column), F.posexplode(chunks).alias("chunk_id", "__c"))
        .select(
            id_column,
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.col("__c.chunk").alias("chunk"),
            F.col("__c.n_tokens").alias("n_tokens"),
        )
    )


# default tracking params stripped by url.normalize: the query-string
# noise that makes one page crawl as many URLs. Deliberately NOT
# included: 'ref' — it's frequently functional (GitLab/GitHub API
# ?ref=branch, docs sites), and a false merge in downstream exact
# dedup costs more than missed tracking noise; opt in via the
# tracking_params config if your corpus uses it as a click-id.
URL_TRACKING_PARAMS = ("gclid", "fbclid", "msclkid", "igshid", "mc_eid")


@register(
    "url.normalize", kind="transform",
    doc="Canonicalize URLs (case/port/fragment/tracking-params/slash)",
    params=[
        P("column", required=True, desc="URL column"),
        P("output_column", desc="Result column (default: in place)"),
        P("strip_tracking", "boolean", default=True,
          desc="Drop utm_* and known click-id params"),
        P("tracking_params", "array",
          desc="Override the exact-name strip list (default: "
               "gclid/fbclid/msclkid/igshid/mc_eid; utm_* is always "
               "prefix-matched)"),
        P("sort_params", "boolean", default=True,
          desc="Sort remaining query params (order-insensitive dedup)"),
        P("strip_trailing_slash", "boolean", default=True,
          desc="Drop a trailing path slash ('/a/' == '/a', '/' == '')"),
        P("strip_www", "boolean", default=False,
          desc="Also drop a leading 'www.' host label"),
    ],
    example={"column": "url"},
    tags=["url", "dedup", "curation"],
)
def url_normalize(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """The first pass of web-corpus URL dedup: one page crawls as
    many URLs (scheme/host case, default ports, fragments, utm_*
    click-ids, param order, trailing slash); canonicalize before
    grouping and the exact-dedup pass collapses them.

    Rules: lowercase scheme+host, drop :80/:443 on the matching
    scheme, drop the #fragment, drop tracking params (utm_* plus
    URL_TRACKING_PARAMS), sort surviving params, strip one trailing
    path slash. Values WITHOUT a scheme pass through untouched (only
    trimmed) — this op never invents structure.

    Pure chained JVM string/regexp/array expressions — codegen'd,
    zero shuffle, linear; RE2-safe patterns keep it oracle-checkable.
    """
    df = inputs[0]
    column = config.get("column")
    out = config.get("output_column", column)
    strip_tracking = bool(config.get("strip_tracking", True))
    sort_params = bool(config.get("sort_params", True))
    strip_slash = bool(config.get("strip_trailing_slash", True))
    strip_www = bool(config.get("strip_www", False))

    u = F.trim(F.col(column).cast("string"))
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    after = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(after, r"^([^/?#]*)", 1))
    rest = F.expr(
        f"substring(regexp_replace(trim(CAST(`{column}` AS STRING)), "
        r"'^[A-Za-z][A-Za-z0-9+.-]*://', ''), "
        r"length(regexp_extract(regexp_replace(trim(CAST(`" + column
        + "` AS STRING)), '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1)) + 1)"
    )
    rest = F.regexp_replace(rest, r"#.*$", "")  # fragment off first
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)

    host = hostport
    host = F.when(scheme == "http", F.regexp_replace(host, r":80$", "")) \
        .when(scheme == "https", F.regexp_replace(host, r":443$", "")) \
        .otherwise(host)
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    if strip_slash:
        path = F.regexp_replace(path, r"/$", "")

    params = F.filter(F.split(query, "&"), lambda p: p != F.lit(""))
    if strip_tracking:
        tracking = config.get("tracking_params")
        if tracking is None:
            tracking = URL_TRACKING_PARAMS
        elif isinstance(tracking, str):
            tracking = [tracking]
        bad = [t for t in tracking if not _re.fullmatch(r"[A-Za-z0-9_.\-]+", str(t))]
        if bad:
            raise ConfigError(
                f"url.normalize: tracking_params must be plain param "
                f"names, got {bad}"
            )
        tracked = ", ".join(f"'{t}'" for t in tracking)
        name_clause = (
            f" OR split(p, '=')[0] IN ({tracked})" if tracked else ""
        )
        params = F.expr(
            f"filter(filter(split(regexp_extract(regexp_replace("
            f"regexp_replace(trim(CAST(`{column}` AS STRING)), "
            r"'^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', ''), "
            r"'\\?(.*)$', 1), '[&]'), p -> p != ''), "
            f"p -> NOT (p LIKE 'utm\\\\_%'{name_clause}))"
        )
    if sort_params:
        params = F.array_sort(params)
    qstr = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))

    normalized = F.concat(scheme, F.lit("://"), host, path, qstr)
    return df.withColumn(out, F.when(scheme == "", u).otherwise(normalized))
