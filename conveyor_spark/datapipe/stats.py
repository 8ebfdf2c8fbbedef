"""Per-group statistical outlier detection (`anomaly.zscore`).

Corpus quality filtering at the distribution level: "drop documents
whose length is >3σ from their language's mean", "flag users whose
event value is anomalous for their cohort". Complements the per-row
heuristics in text.quality — those look at one row, this looks at a
row against its group.

Scale design: ONE shuffle on the group key. Group moments ride a
window-partition aggregate (no orderBy -> whole-group frame, no
single-partition WindowExec, no join back). Moments are computed
from exact integer/decimal sums (sum, sum of squares, count) and
only divided at the end — deterministic on any partitioning and
bit-identical to an oracle that follows the same formula (Spark's
stddev_samp and a float sum would both be partition-order dependent).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


@register(
    "anomaly.zscore", kind="transform", doc="Per-group z-score outlier flag/filter",
    params=[
        P("column", required=True, desc="Numeric column"),
        P("by", "array", desc="Per-group stats; global when omitted"),
        P("threshold", "float", default=3.0, min=0, desc="|z| cutoff"),
        P("mode", default="flag", allowed=("flag", "filter"),
          desc="Add flag columns vs drop outliers"),
        P("output_column", default="zscore", desc="Z-score column"),
        P("flag_column", default="is_outlier", desc="Outlier flag column"),
    ],
    example={"column": "value", "by": ["sensor_id"], "threshold": 3.0},
    tags=["anomaly", "quality", "datapipe"],
)
def anomaly_zscore(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """z = (x - mean_group) / std_group, flagged when |z| > threshold.

    Config: ``column`` (numeric, required), ``by`` (group columns;
    empty = whole-table stats via a literal group), ``threshold``
    (default 3.0), ``mode`` = flag (default: adds ``zscore`` double +
    ``is_outlier`` boolean) | filter (keeps only |z| <= threshold),
    ``output_column`` (default "zscore"), ``flag_column`` (default
    "is_outlier").

    Variance is the sample variance from exact sums:
    (sumsq - sum^2/n) / (n-1). Integer inputs sum exactly (DECIMAL
    accumulators), so mean/std/z are identical double expressions in
    any engine and any partition order. Groups of size 1 (or zero
    variance) get z = 0.0 and never flag. NULL values get NULL z and
    never flag (and are excluded from the moments).
    """
    df = inputs[0]
    column = config.get("column")
    by = config.get("by") or []
    if isinstance(by, str):
        by = [by]
    threshold = float(config.get("threshold", 3.0))
    mode = config.get("mode", "flag")
    z_col = config.get("output_column", "zscore")
    flag_col = config.get("flag_column", "is_outlier")

    # exact accumulation at DECIMAL(18,3): the square stays (37,6),
    # inside 38 digits, so BOTH Spark and an oracle engine keep it
    # exact — (38,6) squared overflows 38 and Spark rounds while
    # DuckDB silently promotes to double, diverging in the last ulp.
    # Domain: |x| < 10^15 at millidecimal resolution (plenty for
    # lengths/counts/scores; z-scores are scale-free anyway).
    x = F.col(column).cast("decimal(18,3)")
    if by:
        # grouped: window-partition aggregate — one shuffle on the
        # group key, whole-group frame, no join back
        w = Window.partitionBy(*[F.col(c) for c in by])
        n = F.count(x).over(w).cast("double")
        s = F.sum(x).over(w).cast("double")
        s2 = F.sum(x * x).over(w).cast("double")
        staged = df
    else:
        # whole-table: a single-row aggregate broadcast back (an
        # unpartitioned window would funnel all rows into one task)
        totals = df.agg(
            F.count(x).alias("__n"), F.sum(x).alias("__s"), F.sum(x * x).alias("__s2")
        )
        staged = df.crossJoin(F.broadcast(totals))
        n = F.col("__n").cast("double")
        s = F.col("__s").cast("double")
        s2 = F.col("__s2").cast("double")
    mean = s / n
    var = F.when(n > 1, (s2 - s * mean) / (n - F.lit(1.0))).otherwise(F.lit(0.0))
    std = F.sqrt(var)
    xv = F.col(column).cast("double")
    z = F.when(std > 0, (xv - mean) / std).otherwise(
        F.when(xv.isNotNull(), F.lit(0.0))
    )
    flagged = staged.withColumn(z_col, z)
    if not by:
        flagged = flagged.drop("__n", "__s", "__s2")
    if mode == "filter":
        return flagged.filter(
            F.col(z_col).isNull() | (F.abs(F.col(z_col)) <= threshold)
        ).drop(z_col)
    return flagged.withColumn(
        flag_col, F.coalesce(F.abs(F.col(z_col)) > threshold, F.lit(False))
    )


@register(
    "stats.correlation", kind="transform",
    doc="Exact Pearson correlation matrix over numeric columns",
    params=[
        P("columns", "array", required=True,
          desc="Numeric columns (>= 2); all pairs are computed"),
        P("by", "array", desc="Optional group columns (per-group matrices)"),
    ],
    example={"columns": ["price", "discount", "amount"]},
    tags=["stats", "profile", "datapipe"],
)
def stats_correlation(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Output: one row per ordered pair (col_a < col_b by position)
    with ``corr`` — or per (group, pair) with ``by``. Rows where
    EITHER column is NULL are excluded from that pair's moments
    (pairwise deletion, corr()'s standard semantics).

    Domain: values are accumulated at DECIMAL(18,3), so inputs are
    quantized to 3 decimals and |x| must be < 10^15; values outside
    that range try_cast to NULL and are pairwise-deleted in ANSI and
    non-ANSI mode alike (n counts the cast values, so the count and
    the moments always agree). The SUM of squares/products must also
    stay inside 38 digits (DECIMAL(38,6)): sum(x^2) < 10^32, i.e. at
    n rows keep |x| below ~10^16/sqrt(n) — past that the aggregate
    overflows (ANSI: error; non-ANSI: the NULL moment propagates
    through the guard to a NULL corr — never a silently shifted
    value). For data with
    sub-millesimal variation or magnitudes near these bounds, rescale
    the column first (map.apply) — exactness is per the stated grid,
    by design.

    Determinism: the anomaly.zscore pattern — all five moments
    (n, sx, sy, sxy, sxx, syy) accumulate at DECIMAL(18,3), whose
    products stay inside 38 digits, so the sums are EXACT integers/
    fixed-point in any engine and any partition order; corr is then
    one double expression over exact inputs, bit-identical
    everywhere. Zero-variance pairs yield NULL (undefined), never a
    division error (ANSI-safe guards).

    Scale: ONE aggregate pass computes every pair's moments
    simultaneously (no per-pair scans); grouped mode is a single
    groupBy shuffle."""
    df = inputs[0]
    columns = config.get("columns")
    if len(columns) < 2:
        raise ConfigError("stats.correlation requires >= 2 'columns'")
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ConfigError(f"stats.correlation: unknown columns {missing}")
    by = config.get("by") or []
    if isinstance(by, str):
        by = [by]

    aggs = []
    pairs = [(a, b) for i, a in enumerate(columns)
             for b in columns[i + 1:]]
    for a, b in pairs:
        # try_cast, not cast: a value outside decimal(18,3) must become
        # NULL (-> pairwise deletion) in ANSI and non-ANSI mode alike,
        # not kill the whole job at the millionth row under ANSI. The
        # deletion gates on the PARTNER'S CAST value, so an overflow on
        # either side drops the whole pair symmetrically — gating on
        # the raw column would keep the partner's value in its sums
        # while n excluded the row.
        ca = F.col(a).try_cast("decimal(18,3)")
        cb = F.col(b).try_cast("decimal(18,3)")
        xa = F.when(cb.isNotNull(), ca)
        xb = F.when(ca.isNotNull(), cb)
        tag = f"{a}__{b}"
        # n must count the CAST values, not the originals: a value
        # outside decimal(18,3) (|x| >= 10^15) casts to NULL under
        # non-ANSI, and counting originals would let n disagree with
        # the moment sums — a silently wrong corr. Counting the casts
        # makes overflow behave exactly like pairwise-NULL deletion.
        aggs += [
            F.count(F.when(
                xa.isNotNull() & xb.isNotNull(), 1
            )).alias(f"__n_{tag}"),
            F.sum(xa).alias(f"__sx_{tag}"),
            F.sum(xb).alias(f"__sy_{tag}"),
            F.sum(xa * xb).alias(f"__sxy_{tag}"),
            F.sum(xa * xa).alias(f"__sxx_{tag}"),
            F.sum(xb * xb).alias(f"__syy_{tag}"),
        ]
    grouped = df.groupBy(*[F.col(c) for c in by]) if by else df.groupBy()
    moments = grouped.agg(*aggs)

    # ONE row of moments -> pair rows via a single explode; a
    # union-of-selects here would make Catalyst duplicate the whole
    # aggregate (and the scan) once per pair — the audit caught
    # exactly that on the first version
    def corr_expr(tag):
        n = F.col(f"__n_{tag}").cast("double")
        sx = F.col(f"__sx_{tag}").cast("double")
        sy = F.col(f"__sy_{tag}").cast("double")
        sxy = F.col(f"__sxy_{tag}").cast("double")
        sxx = F.col(f"__sxx_{tag}").cast("double")
        syy = F.col(f"__syy_{tag}").cast("double")
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        return F.when(
            (n >= 2) & (vx > 0) & (vy > 0),
            (n * sxy - sx * sy) / F.sqrt(vx * vy),
        )

    rows = F.array(*[
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            corr_expr(f"{a}__{b}").alias("corr"),
        )
        for a, b in pairs
    ])
    return (
        moments.select(*[F.col(c) for c in by],
                       F.explode(rows).alias("__pair"))
        .select(*by, "__pair.col_a", "__pair.col_b", "__pair.corr")
    )


@register(
    "stats.ks_test", kind="transform", min_inputs=2, max_inputs=2,
    doc="Exact two-sample Kolmogorov-Smirnov drift statistic",
    params=[
        P("column", required=True, desc="Value column (reference side)"),
        P("column_b", desc="Current-side column (default: same name)"),
        P("buckets", "integer", default=64, min=1,
          desc="Range buckets for the distributed cumulative sums"),
    ],
    example={"column": "score"},
    tags=["stats", "drift", "datapipe"],
)
def stats_ks_test(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """inputs: [reference, current]. Output: ONE row — d_stat (the
    exact KS statistic max|F_ref - F_cur|), at_value (where the max
    is attained; lowest value on ties), n_ref, n_cur, n_values
    (distinct), n_null_ref, n_null_cur. NULLs are excluded from the
    CDFs and reported. Complements drift.psi: PSI needs binning
    choices, KS is binning-free and exactly replayable.

    Determinism: counts are exact int64; each CDF point is one
    int/int double division; D and its argmax order on those exact
    doubles — bit-identical in any engine (q134/q129 ratio class).

    Scale: counts reduce each side to its distinct-value spine (one
    shuffle each); the global cumulative sums are TWO-PHASE — range
    buckets via width_bucket, per-bucket windows, plus an
    n_buckets-row offset frame — so NO window ever sees the whole
    spine in one partition (the q13 bucket-offset pattern; a naive
    unpartitioned window dies at high cardinality). The argmax is a
    distributed top-1 (TakeOrdered), not a window."""
    ref, cur = inputs
    column = config.get("column")
    col_b = config.get("column_b") or column
    if column not in ref.columns:
        raise ConfigError(f"stats.ks_test: reference has no column {column!r}")
    if col_b not in cur.columns:
        raise ConfigError(f"stats.ks_test: current has no column {col_b!r}")
    n_buckets = int(config.get("buckets", 64))
    if n_buckets < 1:
        raise ConfigError("stats.ks_test: buckets must be >= 1")

    # NaNs have no place on a CDF (they'd land in a NULL width_bucket
    # and corrupt the cumulative sums) — fold them into the NULL
    # accounting
    def _clean(df0: DataFrame, c: str) -> DataFrame:
        v = F.col(c).cast("double")
        return df0.select(
            F.nanvl(v, F.lit(None).cast("double")).alias("__v"))

    a = _clean(ref, column)
    b = _clean(cur, col_b)
    # ONE count pass for both sides (r13 optimization): tag + union +
    # conditional sums replace the old {per-side groupBy} x2 +
    # full-outer join — half the count shuffles and no join, and the
    # NULL group row carries each side's null count so the totals no
    # longer need two extra whole-input aggregates. Counts are the
    # same exact int64s the per-side count(1) produced, so every
    # downstream double is bit-identical. The grouped table is
    # PERSISTED: it is the op's decision table (guide §8 — spine,
    # range, offsets, totals, n_values all derive from it) and was
    # previously recomputed — full input re-scan included — once per
    # consumer (5x: measured 36 parquet scans / 52 exchanges in the
    # q135 plan; 8 scans / 12 exchanges after).
    u = a.select("__v", F.lit(1).alias("__sa")).unionAll(
        b.select("__v", F.lit(0).alias("__sa")))
    g = ctx.persist(u.groupBy("__v").agg(
        F.sum(F.col("__sa").cast("bigint")).alias("__ca"),
        F.sum((1 - F.col("__sa")).cast("bigint")).alias("__cb"),
    ))
    totals_row = g.agg(
        F.sum("__ca").alias("__n_a"),
        F.sum("__cb").alias("__n_b"),
        F.sum(F.when(F.col("__v").isNull(), F.col("__ca"))
              .otherwise(F.lit(0))).alias("__nn_a"),
        F.sum(F.when(F.col("__v").isNull(), F.col("__cb"))
              .otherwise(F.lit(0))).alias("__nn_b"),
    )
    spine = g.filter(F.col("__v").isNotNull())
    # phase 1: range-bucket the spine (width_bucket is monotonic in
    # __v, so bucket order == value order); min/max ride a broadcast
    # 1-row frame
    rng = spine.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    spine = spine.join(F.broadcast(rng)).withColumn(
        "__bk",
        F.when(F.col("__lo") == F.col("__hi"), F.lit(1)).otherwise(
            F.least(
                F.width_bucket(F.col("__v"), F.col("__lo"),
                               F.col("__hi"), F.lit(n_buckets)),
                F.lit(n_buckets),
            )
        ),
    ).drop("__lo", "__hi")
    w_in = Window.partitionBy("__bk").orderBy("__v") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine = spine.withColumn("__pa", F.sum("__ca").over(w_in)) \
        .withColumn("__pb", F.sum("__cb").over(w_in))
    # phase 2: per-bucket totals -> exclusive running offsets (an
    # n_buckets-row frame; the single-partition window here is over
    # <= n_buckets rows, not the spine)
    w_off = Window.orderBy("__bk") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets = (
        spine.groupBy("__bk").agg(
            F.sum("__ca").alias("__ta"), F.sum("__cb").alias("__tb"))
        .withColumn("__oa", F.sum("__ta").over(w_off) - F.col("__ta"))
        .withColumn("__ob", F.sum("__tb").over(w_off) - F.col("__tb"))
        .select("__bk", "__oa", "__ob")
    )
    spine = spine.join(F.broadcast(offsets), "__bk")
    # an empty / all-NULL side has no CDF: n = 0 would be an ANSI
    # divide-by-zero deep in the score expr — fail loudly instead
    # (the drift.psi empty-reference pattern)
    def _nonzero(n, side):
        return F.when(
            n == 0,
            F.raise_error(F.lit(
                f"stats.ks_test: {side} side has no non-null values"
            )).cast("bigint"),
        ).otherwise(n)

    totals = F.broadcast(
        totals_row.select(
            _nonzero(F.col("__n_a") - F.col("__nn_a"), "reference")
            .alias("__na"),
            _nonzero(F.col("__n_b") - F.col("__nn_b"), "current")
            .alias("__nb"),
            "__nn_a", "__nn_b",
        )
    )
    scored = spine.join(totals).select(
        "__v", "__na", "__nb", "__nn_a", "__nn_b",
        F.abs(
            (F.col("__pa") + F.col("__oa")).cast("double") / F.col("__na")
            - (F.col("__pb") + F.col("__ob")).cast("double") / F.col("__nb")
        ).alias("__d"),
    )
    top = scored.orderBy(F.col("__d").desc(), F.col("__v")).limit(1)
    n_vals = F.broadcast(
        spine.agg(F.count(F.lit(1)).alias("__nv")))
    return top.join(n_vals).select(
        F.col("__d").alias("d_stat"),
        F.col("__v").alias("at_value"),
        F.col("__na").alias("n_ref"),
        F.col("__nb").alias("n_cur"),
        F.col("__nv").alias("n_values"),
        F.col("__nn_a").alias("n_null_ref"),
        F.col("__nn_b").alias("n_null_cur"),
    )


_JSD_Q = float(1 << 30)  # contribution quantization: exact any-order sums


@register(
    "stats.jensen_shannon", kind="transform", min_inputs=2, max_inputs=2,
    doc="Jensen-Shannon divergence between two corpora's term distributions",
    params=[
        P("column", required=True, desc="Text column (both inputs)"),
        P("output_column", default="jsd", desc="Divergence column (nats)"),
    ],
    example={"column": "text"},
    tags=["stats", "drift", "text", "curation", "datapipe"],
)
def stats_jensen_shannon(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Symmetric, bounded (<= ln 2) distribution drift between two
    corpora over their word distributions — the text counterpart of
    drift.psi (numeric bins) and stats.ks_test (numeric CDFs): use it
    to compare a new crawl snapshot, a filtered subset, or a routed
    split against a reference corpus.

    One output row: (jsd, terms_a, terms_b, terms_union, tokens_a,
    tokens_b). NULL jsd when either corpus has zero tokens.

    Determinism: per-term contribution
        0.5 * (ca/na) * ln(2*ca*nb / (ca*nb + cb*na))
      + 0.5 * (cb/nb) * ln(2*cb*na / (ca*nb + cb*na))
    is one double expression over exact int64 counts (the ln-of-int-
    ratio class) whose log arguments are RATIOS OF INT PRODUCTS — no
    intermediate float distribution. Contributions are floor-quantized
    at 2^-30 and summed as int64 (the kmeans trick): exact in any
    partition/merge order, so the op replays bit-for-bit (q143) with
    ~1e-9/term quantization, far below any drift threshold. Int64
    domain: counts * tokens must stay under 2^63 (~10^9 x 10^9).

    Scale: each corpus shuffles once into its vocabulary-sized count
    table; one full-outer equi-join on term; token totals ride
    broadcast 1-row frames; the final aggregate is a map-side partial
    sum to ONE row. No windows, no collect of the vocabulary."""
    a, b = inputs
    column = config.get("column")
    for d, side in ((a, "first"), (b, "second")):
        if column not in d.columns:
            raise ConfigError(
                f"stats.jensen_shannon: {side} input has no column {column!r}")
    out = config.get("output_column", "jsd")
    from conveyor_spark.datapipe.dedup import tokens_expr

    def counts(d: DataFrame, name: str) -> DataFrame:
        return (
            d.select(F.explode(tokens_expr(column, distinct=False)).alias("__t"))
            .groupBy("__t")
            .agg(F.count(F.lit(1)).alias(name))
        )

    ca = counts(a, "__ca")
    cb = counts(b, "__cb")
    joined = ca.join(cb, "__t", "full_outer").select(
        "__t",
        F.coalesce(F.col("__ca"), F.lit(0)).alias("__ca"),
        F.coalesce(F.col("__cb"), F.lit(0)).alias("__cb"),
    )
    # Vocabulary-bounded decision table, persisted (r13): the token
    # totals previously aggregated ca/cb SEPARATELY, re-running each
    # side's full tokenize+count (and input scan) a second time just
    # to sum it. The full-outer join keeps every term, so summing the
    # coalesced counts over `joined` yields the same exact int64
    # totals — one pass, and the per-term table computes once.
    joined = ctx.persist(joined)
    # when(>0) so an EMPTY side still totals NULL exactly like the
    # old per-side aggregate (its coalesced 0s must not sum to 0:
    # the NULL is what keeps the per-term expressions NULL-safe
    # under ANSI); real counts are always >= 1, so non-empty sides
    # sum identically
    totals = F.broadcast(joined.agg(
        F.sum(F.when(F.col("__ca") > 0, F.col("__ca"))).alias("__na"),
        F.sum(F.when(F.col("__cb") > 0, F.col("__cb"))).alias("__nb")))
    joined = joined.join(totals)

    cab, cba = F.col("__ca") * F.col("__nb"), F.col("__cb") * F.col("__na")
    den = (cab + cba).cast("double")
    term_a = F.when(
        F.col("__ca") > 0,
        (F.col("__ca").cast("double") / F.col("__na"))
        * F.log(F.lit(2.0) * cab.cast("double") / den),
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        F.col("__cb") > 0,
        (F.col("__cb").cast("double") / F.col("__nb"))
        * F.log(F.lit(2.0) * cba.cast("double") / den),
    ).otherwise(F.lit(0.0))
    qc = F.floor((F.lit(0.5) * (term_a + term_b)) * _JSD_Q).cast("bigint")

    agg = joined.agg(
        F.sum(qc).alias("__q"),
        F.sum((F.col("__ca") > 0).cast("long")).alias("terms_a"),
        F.sum((F.col("__cb") > 0).cast("long")).alias("terms_b"),
        F.count(F.lit(1)).alias("terms_union"),
        F.min("__na").alias("tokens_a"),
        F.min("__nb").alias("tokens_b"),
    )
    return agg.select(
        F.when(
            F.col("tokens_a").isNotNull() & F.col("tokens_b").isNotNull()
            & (F.col("tokens_a") > 0) & (F.col("tokens_b") > 0),
            F.col("__q").cast("double") / F.lit(_JSD_Q),
        ).alias(out),
        "terms_a", "terms_b", "terms_union",
        F.coalesce(F.col("tokens_a"), F.lit(0)).alias("tokens_a"),
        F.coalesce(F.col("tokens_b"), F.lit(0)).alias("tokens_b"),
    )


@register(
    "stats.mutual_information", kind="transform",
    doc="Term-class mutual information (discriminative vocabulary)",
    params=[
        P("column", required=True, desc="Text column"),
        P("class_column", required=True, desc="Class/label column"),
        P("min_count", "integer", default=1, min=1,
          desc="Drop terms with fewer total occurrences"),
        P("top_k", "integer", min=1,
          desc="Keep only the k highest-MI terms (ties: term ASC); "
               "adds an mi_rank column (1-based)"),
    ],
    example={"column": "text", "class_column": "language"},
    tags=["stats", "text", "features", "curation", "datapipe"],
)
def stats_mutual_information(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Pointwise-MI aggregate per TERM against a class/label column:
    mi(t) = sum_c p(t,c) * ln(N * c_tc / (c_t * c_c)) over token
    occurrences — the classic discriminative-vocabulary ranking
    (which words identify a language / domain / source; feature
    selection for classify.linear weights). Output: one row per term
    (term, mi, count, classes) ranked by (mi DESC, term ASC); with
    top_k set, an extra mi_rank column (1-based dense position in
    that order) is appended and rows with mi_rank > top_k drop.

    Determinism: counts are exact int64; each (term, class)
    contribution's log argument is a RATIO OF INT PRODUCTS
    (N * c_tc / (c_t * c_c)) — one double expression; contributions
    floor-quantize at 2^-30 and sum as int64 per term (the
    q143/kmeans recipe: exact in any order, ~1e-9 quantization).
    Int64 domain: N * c_tc < 2^63.

    Scale: one (term, class) count aggregate, vocabulary-sized term
    and class marginals (class marginal broadcast), one groupBy(term)
    int sum. NULL class or NULL text rows are excluded (a label-less
    row has no class cell)."""
    df = inputs[0]
    column = config.get("column")
    class_column = config.get("class_column")
    for c in (column, class_column):
        if c not in df.columns:
            raise ConfigError(f"stats.mutual_information: no column {c!r}")
    min_count = int(config.get("min_count", 1))
    top_k = config.get("top_k")
    from conveyor_spark.datapipe.dedup import tokens_expr

    tok = (
        df.filter(F.col(class_column).isNotNull())
        .select(
            F.col(class_column).cast("string").alias("__cls"),
            F.explode(tokens_expr(column, distinct=False)).alias("__t"),
        )
    )
    tc = tok.groupBy("__t", "__cls").agg(F.count(F.lit(1)).alias("__ctc"))
    # (term, class) counts are the op's decision table — vocabulary x
    # classes rows, bounded — and FOUR consumers derive from it (the
    # join, both marginals, and N via the class marginal): without
    # persist each re-ran the full tokenize+explode+count (r13
    # measurement: 8 parquet scans in the q148 plan; 2 after).
    tc = ctx.persist(tc)
    t_marg = tc.groupBy("__t").agg(F.sum("__ctc").alias("__ct"))
    c_marg = tc.groupBy("__cls").agg(F.sum("__ctc").alias("__cc"))
    n_tot = c_marg.agg(F.sum("__cc").alias("__n"))

    joined = (
        tc.join(t_marg, "__t")
        .join(F.broadcast(c_marg), "__cls")
        .join(F.broadcast(n_tot))
    )
    # p(t,c) * ln(N * c_tc / (c_t * c_c)), quantized at 2^-30
    contrib = (
        (F.col("__ctc").cast("double") / F.col("__n"))
        * F.log(
            (F.col("__n") * F.col("__ctc")).cast("double")
            / (F.col("__ct") * F.col("__cc")).cast("double")
        )
    )
    qc = F.floor(contrib * F.lit(float(1 << 30))).cast("bigint")
    out = (
        joined.groupBy("__t")
        .agg(
            F.sum(qc).alias("__q"),
            F.min("__ct").alias("count"),
            F.count(F.lit(1)).alias("classes"),
        )
        .filter(F.col("count") >= min_count)
        .select(
            F.col("__t").alias("term"),
            (F.col("__q").cast("double") / F.lit(float(1 << 30))).alias("mi"),
            "count",
            F.col("classes").cast("int").alias("classes"),
        )
    )
    if top_k is not None:
        w = Window.partitionBy(F.lit(1)).orderBy(
            F.col("mi").desc(), F.col("term"))
        out = out.withColumn("mi_rank", F.row_number().over(w)) \
                 .filter(F.col("mi_rank") <= int(top_k))
    return out
