"""Dataset-level quality gates: `validate.expectations` and
`drift.psi`.

validate.schema asserts row-level facts; these two assert facts
about the DATASET — "at least 1M rows, null rate under 1%, id is
unique, score between 0 and 1" — and "does today's distribution
still look like the training distribution" (population stability
index). Together they are the pre-flight checks in front of an
expensive training run.

Scale design:

- ``validate.expectations`` folds every expectation into ONE global
  aggregate job (one scan, map-side partials) — never one count()
  action per rule. The result is a tiny metrics row; on failure the
  error lists every failed expectation with its observed value.
- ``drift.psi`` histograms both inputs on the SAME fixed bin edges
  (derived from config, not data — comparable across runs), one
  aggregate per side at bin grain, then a broadcast join of two
  ~n_bins-row frames. PSI folds the bins in index order, so the
  float sum is deterministic.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError, ValidationError
from conveyor_spark.registry import OpContext, P, register


@register(
    "validate.expectations",
    kind="transform",
    doc="Dataset-level expectations in one aggregate pass",
    params=[
        P("expectations", "array", required=True,
          desc="Checks: {kind: row_count|not_null|unique|accepted_values|"
               "between|matches, column?, ...}"),
        P("mode", default="error", allowed=("error", "report"), aliases=("metrics",),
          desc="Fail the run vs emit a pass/fail report frame"),
    ],
    example={"expectations": [{"kind": "not_null", "column": "id"},
                              {"kind": "row_count", "min": 1}]},
    tags=["validation", "quality", "datapipe"],
)
def validate_expectations(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Config: ``expectations`` — a list of checks, each a dict:

    - {kind: "row_count", min?: N, max?: M}
    - {kind: "not_null", column, max_null_fraction?: f (default 0)}
    - {kind: "unique", column}
    - {kind: "in_range", column, min?: x, max?: y} (NULLs don't count)
    - {kind: "matches", column, pattern, min_fraction?: f (default 1.0)}
    - {kind: "accepted_values", column, values: [...]}

    ``mode`` = "error" (default: raise listing every failure) |
    "metrics" (return a one-row DataFrame of observed values +
    ``passed`` boolean per expectation — feed a dashboard instead of
    failing). Input passes through unchanged in error mode.

    One scan, one aggregate: every expectation contributes columns to
    a single global agg (count_distinct for `unique` adds its
    standard expand — still the same job).
    """
    df = inputs[0]
    expectations = config.get("expectations")
    mode = config.get("mode", "error")
    if mode == "report":
        mode = "metrics"  # the declared allowed spelling

    # 'between' is the documented alias of 'in_range'
    expectations = [
        {**ex, "kind": "in_range"} if ex.get("kind") == "between" else ex
        for ex in expectations
    ]
    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for i, ex in enumerate(expectations):
        kind = ex.get("kind")
        col = ex.get("column")
        if kind == "row_count":
            pass  # uses __rows
        elif kind == "not_null":
            aggs.append(F.count(F.when(F.col(col).isNull(), 1)).alias(f"__nulls_{i}"))
        elif kind == "unique":
            aggs.append(F.countDistinct(F.col(col)).alias(f"__dist_{i}"))
            aggs.append(F.count(F.col(col)).alias(f"__nonnull_{i}"))
        elif kind == "in_range":
            cond = F.lit(False)
            if (lo := ex.get("min")) is not None:
                cond = cond | (F.col(col) < F.lit(lo))
            if (hi := ex.get("max")) is not None:
                cond = cond | (F.col(col) > F.lit(hi))
            aggs.append(F.count(F.when(cond, 1)).alias(f"__oob_{i}"))
        elif kind == "matches":
            ok = F.col(col).rlike(ex["pattern"])
            aggs.append(F.count(F.when(ok, 1)).alias(f"__match_{i}"))
            aggs.append(F.count(F.col(col)).alias(f"__nonnull_{i}"))
        elif kind == "accepted_values":
            bad = ~F.col(col).isin(list(ex["values"])) & F.col(col).isNotNull()
            aggs.append(F.count(F.when(bad, 1)).alias(f"__bad_{i}"))
        else:
            raise ConfigError(f"validate.expectations: unknown kind {kind!r}")

    row = df.agg(*aggs).collect()[0]
    rows = row["__rows"]
    results: list[tuple[str, bool, str]] = []
    for i, ex in enumerate(expectations):
        kind = ex.get("kind")
        col = ex.get("column")
        if kind == "row_count":
            ok = (ex.get("min") is None or rows >= ex["min"]) and (
                ex.get("max") is None or rows <= ex["max"]
            )
            results.append((f"row_count", ok, f"rows={rows}"))
        elif kind == "not_null":
            frac = (row[f"__nulls_{i}"] / rows) if rows else 0.0
            ok = frac <= float(ex.get("max_null_fraction", 0.0))
            results.append((f"not_null({col})", ok, f"null_fraction={frac:.6f}"))
        elif kind == "unique":
            ok = row[f"__dist_{i}"] == row[f"__nonnull_{i}"]
            results.append(
                (f"unique({col})", ok,
                 f"distinct={row[f'__dist_{i}']} nonnull={row[f'__nonnull_{i}']}")
            )
        elif kind == "in_range":
            ok = row[f"__oob_{i}"] == 0
            results.append((f"in_range({col})", ok, f"out_of_range={row[f'__oob_{i}']}"))
        elif kind == "matches":
            nn = row[f"__nonnull_{i}"]
            frac = (row[f"__match_{i}"] / nn) if nn else 1.0
            ok = frac >= float(ex.get("min_fraction", 1.0))
            results.append((f"matches({col})", ok, f"match_fraction={frac:.6f}"))
        elif kind == "accepted_values":
            ok = row[f"__bad_{i}"] == 0
            results.append((f"accepted_values({col})", ok, f"bad={row[f'__bad_{i}']}"))

    if mode == "metrics":
        spark = df.sparkSession
        return spark.createDataFrame(
            [(name, bool(ok), detail) for name, ok, detail in results],
            "expectation string, passed boolean, detail string",
        )
    failed = [(n, d) for n, ok, d in results if not ok]
    if failed:
        lines = "; ".join(f"{n} [{d}]" for n, d in failed)
        raise ValidationError(f"expectations failed: {lines}")
    return df


@register(
    "drift.psi",
    kind="transform",
    min_inputs=2,
    max_inputs=2,
    doc="Population stability index between two datasets",
    params=[
        P("column", required=True, desc="Numeric column to compare"),
        P("bins", "integer", default=10, min=2, desc="Histogram bins"),
        P("min", "float", desc="Bin range low (default: reference min)"),
        P("max", "float", desc="Bin range high (default: reference max)"),
        P("epsilon", "float", default=0.000001, min=0,
          desc="Zero-bin smoothing"),
    ],
    example={"column": "score", "bins": 10},
    tags=["drift", "quality", "datapipe"],
)
def drift_psi(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """PSI of ``column`` between inputs[0] (reference/train) and
    inputs[1] (current/serve): sum over bins of
    (p_cur - p_ref) * ln(p_cur / p_ref), with the standard reading
    <0.1 stable, 0.1-0.25 drifting, >0.25 shifted.

    Config: ``column``, ``min``/``max`` (fixed bin range — from
    config, NOT the data, so runs are comparable), ``bins`` (default
    10), ``epsilon`` (default 1e-6: zero-count smoothing so empty
    bins don't produce infinities). Values outside [min,max] clamp
    into the edge bins; NULLs are ignored.

    Output: one row per bin (bin index, both shares, per-bin
    contribution) plus the total in every row — grab
    ``first(psi_total)`` or feed the per-bin rows to a dashboard.

    Scale: one aggregate per side at bin grain (map-side partials),
    then a broadcast join of two ≤bins-row frames; the PSI fold runs
    in bin order via an array aggregate, so the double sum is
    deterministic on any partitioning.
    """
    if len(inputs) != 2:
        raise ConfigError("drift.psi needs [reference, current] inputs")
    ref, cur = inputs
    column = config.get("column")
    lo = config.get("min")
    hi = config.get("max")
    if (lo is None) != (hi is None):
        raise ConfigError("drift.psi: pass both 'min' and 'max' or neither")
    bins = int(config.get("bins", 10))
    if bins < 2:
        raise ConfigError("drift.psi: bins must be >= 2")
    eps = float(config.get("epsilon", 1e-6))

    if lo is not None:
        lo, hi = float(lo), float(hi)
        if not hi > lo:
            raise ConfigError("drift.psi: max must be > min")
        lo_c, hi_w = F.lit(lo), F.lit(hi - lo)
        bounds = None
    else:
        # documented default: derive the bin range from the REFERENCE
        # side (both sides bin on the same range, so runs against one
        # reference stay comparable) — a lazy 1-row broadcast, no
        # driver action at plan build
        x0 = F.col(column).cast("double")
        bounds = ref.agg(
            F.min(x0).alias("__psi_lo"), F.max(x0).alias("__psi_hi")
        )
        # an empty/all-NULL reference derives NULL bounds: every
        # current row would bin to NULL, silently reading as PSI 0
        # ("perfectly stable") — fail loudly instead
        lo_c = F.when(
            F.col("__psi_lo").isNull(),
            F.raise_error(F.lit(
                "drift.psi: reference side has no non-null values to "
                "derive min/max from; pass explicit 'min'/'max'"
            )).cast("double"),
        ).otherwise(F.col("__psi_lo"))
        # constant column: width 0 would divide by zero — every value
        # then lands in bin 0 via the guard
        hi_w = F.greatest(F.col("__psi_hi") - F.col("__psi_lo"), F.lit(1e-300))

    def binned(df: DataFrame, name: str) -> DataFrame:
        if bounds is not None:
            df = df.crossJoin(F.broadcast(bounds))
        x = F.col(column).cast("double")
        b = F.floor((x - lo_c) / hi_w * F.lit(float(bins))).cast("int")
        b = F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1))
        return (
            df.filter(x.isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias(name))
        )

    r = binned(ref, "n_ref")
    c = binned(cur, "n_cur")
    # dense bin spine so empty bins exist on both sides
    spine = ref.sparkSession.range(bins).select(F.col("id").cast("int").alias("bin"))
    if bounds is not None:
        # the bin-expression guard only fires when a non-null CURRENT
        # row is evaluated; anchoring the same check to the spine
        # (always `bins` rows) makes an empty/all-NULL reference fail
        # even when the current side is empty too
        spine = (
            spine.crossJoin(F.broadcast(bounds))
            .filter(
                F.when(
                    F.col("__psi_lo").isNull(),
                    F.raise_error(F.lit(
                        "drift.psi: reference side has no non-null values "
                        "to derive min/max from; pass explicit 'min'/'max'"
                    )).cast("boolean"),
                ).otherwise(F.lit(True))
            )
            .select("bin")
        )
    joined = (
        spine.join(F.broadcast(r), "bin", "left")
        .join(F.broadcast(c), "bin", "left")
        .withColumn("n_ref", F.coalesce("n_ref", F.lit(0)))
        .withColumn("n_cur", F.coalesce("n_cur", F.lit(0)))
    )
    # The op's decision table (<= bins rows, guide §8): tot, shares
    # and the psi_total fold all derive from it, and each reference
    # re-ran BOTH side's full-input bin aggregates (r13 measurement:
    # 16 parquet scans in the q92 plan; 2 after). Persisting <= bins
    # rows costs nothing; every count is an exact int64 so all
    # downstream doubles are bit-identical.
    joined = ctx.persist(joined)
    tot = joined.agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc")
    )
    shares = (
        joined.crossJoin(F.broadcast(tot))
        .withColumn(
            "p_ref",
            F.greatest(F.col("n_ref").cast("double") / F.col("__tr").cast("double"),
                       F.lit(eps)),
        )
        .withColumn(
            "p_cur",
            F.greatest(F.col("n_cur").cast("double") / F.col("__tc").cast("double"),
                       F.lit(eps)),
        )
        .withColumn(
            "psi_bin", (F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref"))
        )
    )
    # deterministic total: fold the per-bin terms in bin order
    folded = shares.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bin", "psi_bin"))),
            F.lit(0.0),
            lambda acc, s: acc + s["psi_bin"],
        ).alias("psi_total")
    )
    return (
        shares.crossJoin(F.broadcast(folded))
        .select("bin", "n_ref", "n_cur", "p_ref", "p_cur", "psi_bin", "psi_total")
    )
