"""Dataset splitting/sampling for training pipelines.

- split.assign: deterministic hash-based train/val/test assignment.
  The split is a pure function of the ID column (portable md5 hash),
  so it is stable across runs, engines, partitionings and cluster
  sizes — the property random splits lack and training reproducibility
  requires. Fractions map to contiguous buckets of hash(id) mod 10000.
- sample.apply: Bernoulli/fraction sampling (seeded; per-partition
  deterministic for a fixed layout — use split.assign when exact
  reproducibility across layouts matters).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.hashing import md5_int


@register(
    "split.assign", kind="transform",
    doc="Deterministic hash-based train/val/test split",
    params=[
        P("id_column", required=True, desc="Row id (hash input)"),
        P("fractions", "object", default={"train": 0.8, "val": 0.1, "test": 0.1},
          desc="{split_name: fraction} (must sum to 1)"),
        P("output_column", default="split", desc="Split label column"),
        P("seed", default="split", desc="Hash seed"),
        P("on_null", default="error",
          desc="Null-id handling: error, hash (one deterministic split), "
               "or a split name"),
    ],
    example={"id_column": "doc_id",
             "fractions": {"train": 0.9, "val": 0.05, "test": 0.05}},
    tags=["split", "training", "datapipe"],
)
def split_assign(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    id_column = config.get("id_column")
    fractions: dict[str, float] = config.get(
        "fractions", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    if abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ConfigError(f"split.assign fractions must sum to 1, got {fractions}")
    output_column = config.get("output_column", "split")
    seed = config.get("seed", "split")
    # NULL ids: md5(concat(null, ...)) is null, every bucket condition
    # is null, and the rounding-remainder otherwise() would silently
    # dump them all into the LAST split, skewing holdout sets. Policy:
    # on_null = "error" (default) | "hash" (hash a sentinel — nulls
    # all land in ONE deterministic split) | a split name.
    on_null = config.get("on_null", "error")
    if on_null not in ("error", "hash") and on_null not in fractions:
        raise ConfigError(
            f"split.assign: on_null must be 'error', 'hash' or a split name, got {on_null!r}"
        )
    id_str = F.col(id_column).cast("string")
    if on_null == "error":
        id_str = F.when(
            F.col(id_column).isNull(),
            F.raise_error(F.lit(
                f"split.assign: NULL in id_column {id_column!r} "
                "(set on_null='hash' or a split name to assign them)"
            )),
        ).otherwise(id_str)
    elif on_null == "hash":
        id_str = F.coalesce(id_str, F.lit("\x00null"))
    bucket = md5_int(F.concat(id_str, F.lit(f"#{seed}"))) % 10000
    expr = None
    lo = 0
    # insertion order defines the bucket layout — deterministic for a
    # given fractions dict
    for name, frac in fractions.items():
        hi = lo + int(round(frac * 10000))
        cond = (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo = hi
    expr = expr.otherwise(F.lit(list(fractions)[-1]))  # rounding remainder -> last split
    if on_null in fractions:
        expr = F.when(F.col(id_column).isNull(), F.lit(on_null)).otherwise(expr)
    return df.withColumn(output_column, expr)


@register(
    "sample.apply", kind="transform", doc="Fraction sampling (seeded)",
    params=[
        P("fraction", "float", required=True, min=0.0, max=1.0, desc="Keep fraction"),
        P("with_replacement", "boolean", default=False, desc="Sample with replacement"),
        P("seed", "integer", default=42, desc="RNG seed"),
    ],
    example={"fraction": 0.01, "seed": 42},
    tags=["sampling", "datapipe"],
)
def sample_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    fraction = config.get("fraction")
    if not 0 < float(fraction) <= 1:
        raise ConfigError("sample.apply requires 'fraction' in (0, 1]")
    return inputs[0].sample(
        withReplacement=bool(config.get("with_replacement", False)),
        fraction=float(fraction),
        seed=int(config.get("seed", 42)),
    )


@register(
    "sample.stratified", kind="transform",
    doc="Deterministic per-stratum hash sampling",
    params=[
        P("by", "array", required=True, desc="Stratum key column(s)"),
        P("id_column", required=True, desc="Row id (hash input)"),
        P("fractions", "object", required=True,
          desc="{stratum_value: fraction} keep rates"),
        P("default_fraction", "float", default=1.0, min=0.0, max=1.0,
          desc="Rate for strata not listed"),
        P("seed", default="strat", desc="Hash seed"),
    ],
    example={"by": ["language"], "id_column": "doc_id",
             "fractions": {"en": 0.1, "fr": 0.5}},
    tags=["sampling", "datapipe"],
)
def sample_stratified(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Data-mixing primitive: keep a different deterministic fraction
    of each stratum — downsample the dominant language/source, keep
    100% of the rare ones (the corpus-reweighting step of a training
    build).

    Config: ``by`` (stratum column(s), required), ``id_column``
    (required — keep/drop is a pure function of the id, NOT of
    partitioning or row order, same property as split.assign),
    ``fractions`` = {stratum_value: fraction} (required; multi-column
    strata key on the '|'-joined string values),
    ``default_fraction`` (for strata not listed; default 1.0 = keep),
    ``seed`` (default "strat").

    Scale: one codegen'd filter — no shuffle, no sampling state, and
    the SAME rows survive on any cluster layout or rerun. Fractions
    quantize to 1/10000 (md5 bucket), exactly like split.assign.
    """
    df = inputs[0]
    by = config.get("by")
    id_column = config.get("id_column")
    by = [by] if isinstance(by, str) else list(by)
    fractions = config.get("fractions")
    if not isinstance(fractions, dict):
        raise ConfigError("sample.stratified requires 'fractions' {stratum: fraction}")
    default_fraction = float(config.get("default_fraction", 1.0))
    for k, v in {**fractions, "default_fraction": default_fraction}.items():
        if not 0 <= float(v) <= 1:
            raise ConfigError(f"sample.stratified: fraction {k}={v} outside [0, 1]")
    seed = config.get("seed", "strat")

    stratum = F.concat_ws("|", *[F.col(c).cast("string") for c in by])
    bucket = md5_int(
        F.concat(F.col(id_column).cast("string"), F.lit(f"#{seed}"))
    ) % 10000
    frac = F.lit(default_fraction)
    for value, f in sorted(fractions.items()):
        frac = F.when(stratum == str(value), F.lit(float(f))).otherwise(frac)
    return df.filter(bucket < frac * 10000)


@register(
    "sample.mixture", kind="transform", min_inputs=1, max_inputs=None,
    doc="Deterministic weighted corpus mixture (fractional epochs per source)",
    params=[
        P("weights", "array", required=True,
          desc="Epochs per source, aligned with the stage's inputs; "
               "2.0 = every row twice, 0.25 = a deterministic quarter"),
        P("id_column", required=True,
          desc="Stable row id (selection is a pure function of it)"),
        P("seed", default="mixture", desc="Hash seed"),
        P("source_column", default="mix_source",
          desc="Emitted source index column"),
        P("epoch_column", default="mix_epoch",
          desc="Emitted repetition index column"),
    ],
    example={"weights": [1.0, 0.5], "id_column": "doc_id"},
    tags=["sampling", "training", "datapipe"],
)
def sample_mixture(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """The data-mixing op of a training run (Pile/Dolma-style source
    weights): source i contributes floor(w_i) full epochs plus a
    deterministic frac(w_i) sample of a final partial epoch. Rows are
    selected by portable hash of (id, seed, epoch) — reproducible
    across runs/partitionings/engines, and DIFFERENT rows drop from
    each partial epoch (no systematic exclusion of the same docs).
    All inputs must share a schema (select/rename upstream).

    Output = union of the selected copies + ``mix_source`` /
    ``mix_epoch`` index columns (drop them downstream if unwanted).

    Scale: pure union of filtered scans — zero shuffle, zero Python;
    each source is read once per FULL epoch it contributes (Spark
    scan reuse applies under one action)."""
    weights = config.get("weights")
    id_column = config.get("id_column")
    if len(weights) != len(inputs):
        raise ConfigError(
            f"sample.mixture: {len(weights)} weights for {len(inputs)} inputs")
    seed = str(config.get("seed", "mixture"))
    src_col = config.get("source_column", "mix_source")
    ep_col = config.get("epoch_column", "mix_epoch")
    def shape(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    first = shape(inputs[0])
    for i, df in enumerate(inputs[1:], 1):
        if shape(df) != first:
            raise ConfigError(
                f"sample.mixture: input {i} schema {shape(df)} != "
                f"input 0 schema {first} (names AND types must match)")

    parts = []
    for si, (df, w) in enumerate(zip(inputs, weights)):
        w = float(w)
        if not 0 <= w <= 100:
            # a typo'd weight (row budget? token count?) would build
            # int(w) plan branches and melt the driver before any error
            raise ConfigError(
                f"sample.mixture: weight {w} outside [0, 100] epochs")
        full = int(w)
        frac = w - full
        for epoch in range(full):
            parts.append(df.withColumn(src_col, F.lit(si))
                           .withColumn(ep_col, F.lit(epoch)))
        if frac > 1e-12:
            # portable-hash threshold on (id, seed, source, epoch):
            # the SAME construction DuckDB replays (q115). concat (not
            # concat_ws) PROPAGATES null ids -> null hash -> excluded
            # from partial epochs, exactly like the oracle's
            # CAST(NULL)||... (concat_ws would collapse every NULL-id
            # row onto ONE key, keeping or dropping them en masse).
            # Full epochs still carry null-id rows; give rows real ids
            # if they must participate in fractional sampling.
            key = F.concat(
                F.col(id_column).cast("string"),
                F.lit(f"#{seed}#{si}#{full}"))
            keep = F.pmod(md5_int(key), F.lit(1_000_000)) < int(
                round(frac * 1_000_000))
            parts.append(df.where(keep)
                           .withColumn(src_col, F.lit(si))
                           .withColumn(ep_col, F.lit(full)))
    if not parts:
        empty = inputs[0].withColumn(src_col, F.lit(0)) \
                         .withColumn(ep_col, F.lit(0))
        return empty.where(F.lit(False))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "sample.temperature", kind="transform",
    doc="Temperature-scaled source rebalancing (the mT5/XLM-R mixing recipe)",
    params=[
        P("by", required=True, desc="Source label column"),
        P("id_column", required=True,
          desc="Stable row id (selection is a pure function of it)"),
        P("alpha", "float", default=0.5,
          desc="Exponent 1/T in (0, 1]: 1 = natural proportions, "
               "smaller flattens toward uniform"),
        P("budget", "integer", min=1,
          desc="Target total rows (default: the input row count)"),
        P("max_epochs", "float", default=10.0,
          desc="Upsampling cap per source (rate clamp)"),
        P("seed", default="temp", desc="Hash seed"),
        P("epoch_column", default="mix_epoch",
          desc="Emitted repetition index column"),
    ],
    example={"by": "language", "id_column": "doc_id", "alpha": 0.5},
    tags=["sampling", "training", "multilingual", "datapipe"],
)
def sample_temperature(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Rebalance a multi-source corpus by temperature sampling:
    source s gets probability p_s = n_s^alpha / sum_t n_t^alpha, so
    its per-row rate is budget * p_s / n_s — the mT5/XLM-R recipe
    that UPSAMPLES low-resource sources (rate > 1 emits repeated
    epochs, like sample.mixture) and downsamples dominant ones.
    Where sample.mixture takes hand-picked weights per input frame,
    this derives them from the data's own source counts in-engine.

    Selection is a pure function of (id, seed, source, epoch): full
    epochs below floor(rate) always emit; the partial epoch keeps a
    row iff pmod(hash, 1e6) < floor(frac * 1e6). Rows with a NULL
    source or NULL id are excluded (hash/join semantics would
    otherwise silently collapse them; give rows real keys). Rates
    clamp at ``max_epochs``. Output = input + ``mix_epoch``.

    Determinism: the only float steps are n^alpha (pow over exact
    int64 counts — with alpha = 0.5 this is IEEE sqrt, correctly
    rounded in every engine) and the source-ordered fold of the
    denominator; thresholds floor to integers before any comparison.
    q144 replays the whole construction in DuckDB.

    Scale: one tiny groupBy(source) count, rates broadcast back, the
    corpus itself never shuffles — epoch replication is a per-row
    Generate; zero windows, zero Python."""
    df = inputs[0]
    by = config.get("by")
    id_column = config.get("id_column")
    for c in (by, id_column):
        if c not in df.columns:
            raise ConfigError(f"sample.temperature: no column {c!r}")
    alpha = float(config.get("alpha", 0.5))
    if not 0.0 < alpha <= 1.0:
        raise ConfigError("sample.temperature: alpha must be in (0, 1]")
    budget = config.get("budget")
    if budget is not None and int(budget) < 1:
        raise ConfigError("sample.temperature: budget must be >= 1")
    max_epochs = float(config.get("max_epochs", 10.0))
    if not 1.0 <= max_epochs <= 100.0:
        # same foot-gun guard as sample.mixture's weight bound: a
        # pasted row budget here would build billion-element epoch
        # sequences per row and kill executors with no useful error
        raise ConfigError(
            "sample.temperature: max_epochs must be in [1, 100]")
    seed = str(config.get("seed", "temp"))
    ep_col = config.get("epoch_column", "mix_epoch")
    if ep_col in df.columns:
        raise ConfigError(
            f"sample.temperature would overwrite existing column {ep_col!r}; "
            "set epoch_column")

    pool = df.filter(F.col(by).isNotNull() & F.col(id_column).isNotNull())
    src = F.col(by).cast("string")

    # alpha = 0.5 / 1.0 use IEEE-exact forms (sqrt is correctly
    # rounded in every engine; pow(x, 0.5) is only 1-ulp-accurate and
    # need not equal sqrt bit-for-bit — the q144 oracle relies on this)
    def powa(col):
        if alpha == 1.0:
            return col
        if alpha == 0.5:
            return F.sqrt(col)
        return F.pow(col, F.lit(alpha))

    counts = pool.groupBy(src.alias("__src")).agg(
        F.count(F.lit(1)).alias("__n"))
    # denominator folded in source order (few sources, fixed order)
    denom = counts.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(
                F.col("__src").alias("k"),
                powa(F.col("__n").cast("double")).alias("v"),
            ))),
            F.lit(0.0),
            lambda acc, x: acc + x["v"],
        ).alias("__den"),
        F.sum("__n").alias("__tot"),
    )
    b_expr = F.lit(float(int(budget))) if budget is not None \
        else F.col("__tot").cast("double")
    rates = counts.join(F.broadcast(denom)).select(
        "__src",
        F.least(
            b_expr * powa(F.col("__n").cast("double"))
            / F.col("__den") / F.col("__n").cast("double"),
            F.lit(max_epochs),
        ).alias("__rate"),
    )
    joined = pool.withColumn("__src", src).join(F.broadcast(rates), "__src")
    full = F.floor(F.col("__rate")).cast("int")
    frac_thresh = F.floor((F.col("__rate") - full.cast("double"))
                          * F.lit(1_000_000.0)).cast("bigint")
    exploded = joined.withColumn(
        "__e", F.explode(F.sequence(F.lit(0), full))
    )
    key = F.concat(
        F.col(id_column).cast("string"),
        F.lit(f"#{seed}#"), F.col("__src"),
        F.lit("#"), F.col("__e").cast("string"),
    )
    keep = (F.col("__e") < full) | (
        F.pmod(md5_int(key), F.lit(1_000_000)) < frac_thresh
    )
    return (
        exploded.where(keep)
        .withColumn(ep_col, F.col("__e"))
        .drop("__src", "__rate", "__e")
    )
