"""Temporal joins Spark lacks as builtins: as-of join and range
(point-in-interval) join.

Not in the reference (its join roadmap stops at equi-joins —
SURVEY.md §2.5); standard timeseries/feature-store primitives, built
scale-first:

- ``join.asof``: the naive formulation (inequality join + argmax) is
  O(probe x build) per key. We instead use the union-scan scheme:
  tag probe/build rows, shuffle ONCE by key, sort within key by
  (time, tag) and carry the most recent build payload forward with
  ``last(ignorenulls)`` over a running window — linear in rows, one
  shuffle, no row explosion, fully partitioned by key (never an
  unpartitioned WindowExec).
- ``join.range``: with a ``bucket`` width, intervals explode to the
  buckets they cover and points join on (keys..., bucket) — an
  EQUI-join Catalyst can hash/sort-merge at any scale, followed by
  the exact bound filter. Without ``bucket``, the interval side is
  broadcast and the bound predicate evaluates map-side (only sane
  when intervals fit in memory; refused otherwise).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, as_list, register


@register(
    "join.asof",
    kind="transform",
    min_inputs=2,
    max_inputs=2,
    doc="As-of (nearest-prior/next) join by key",
    params=[
        P("on", required=True, desc="Time/order column present in both inputs"),
        P("by", "array", desc="Equi-key column(s) to match within"),
        P("direction", default="backward", allowed=("backward", "forward"),
          desc="Most recent prior row vs earliest following row"),
        P("how", default="left", allowed=("left", "inner"), desc="Join type"),
        P("tolerance", "any", desc="Max time distance (number or duration string)"),
        P("right_prefix", default="r_", desc="Prefix for build-side columns"),
        P("allow_unpartitioned", "boolean", default=False,
          desc="Opt in to a keyless (single-partition) as-of"),
    ],
    example={"on": "ts", "by": ["user_id"], "direction": "backward"},
    tags=["join", "temporal"],
)
def join_asof(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """inputs = [probe, build]: for each probe row, attach the most
    recent build row at-or-before its time (``direction=backward``,
    default) or the earliest at-or-after (``forward``).

    Config: ``on`` (probe time column), ``right_on`` (build time
    column, default = on), ``by`` (equi key(s) — required; without a
    key every row lands in ONE task at scale, so keyless needs
    ``allow_unpartitioned=true``, same guard as window.function),
    ``tolerance`` (seconds; matches further away are nulled),
    ``how`` = left|inner, ``right_prefix`` (default ``r_``) applied
    to ALL carried build columns.

    Ties (equal time): the build row matches (<=/>= semantics, same
    as DuckDB ASOF). Equal-time build rows are broken by the carried
    payload struct's field order — deterministic given distinct rows.

    Skew: rows of one key process in one task (inherent to ordered
    scans, same bound as any keyed window). A monster key (one
    entity with a billion events) serializes there — pre-split such
    keys upstream (e.g. bucket by time range and asof within
    buckets, stitching boundaries) rather than expecting salting,
    which cannot preserve cross-shard scan order.
    """
    if len(inputs) != 2:
        raise ConfigError("join.asof needs [probe, build] inputs")
    probe, build = inputs
    on = config.get("on")
    right_on = config.get("right_on", on)
    by = as_list(config.get("by") or [])
    if not by and not config.get("allow_unpartitioned", False):
        raise ConfigError(
            "join.asof without 'by' funnels all rows through one task; "
            "pass by=<key> or allow_unpartitioned=true"
        )
    direction = config.get("direction", "backward")
    how = config.get("how", "left")
    prefix = config.get("right_prefix", "r_")
    tolerance = config.get("tolerance")

    carry = [c for c in build.columns if c not in by]
    if not carry:
        raise ConfigError("join.asof: build side has no non-key columns to carry")
    bad = [c for c in probe.columns if c in {f"{prefix}{x}" for x in carry}]
    if bad:
        raise ConfigError(f"join.asof: probe columns collide with prefixed build columns: {bad}")

    # One union-compatible frame: keys + scan time + tag + both payloads.
    b_struct_type = build.select(F.struct(*carry).alias("s")).schema["s"].dataType
    p_side = probe.select(
        *by,
        F.col(on).alias("__asof_t"),
        F.lit(1).alias("__asof_tag"),
        F.struct(*probe.columns).alias("__asof_p"),
        F.lit(None).cast(b_struct_type).alias("__asof_b"),
    )
    b_side = build.select(
        *by,
        F.col(right_on).alias("__asof_t"),
        F.lit(0).alias("__asof_tag"),
        F.lit(None).cast(p_side.schema["__asof_p"].dataType).alias("__asof_p"),
        F.struct(*carry).alias("__asof_b"),
    )
    u = p_side.unionByName(b_side)

    if direction == "backward":
        # build (tag 0) sorts before probe at equal t -> <= matches;
        # the struct itself is the last tiebreak between equal-t builds.
        order = [F.col("__asof_t").asc(), F.col("__asof_tag").asc(), F.col("__asof_b").asc()]
    else:
        order = [F.col("__asof_t").desc(), F.col("__asof_tag").asc(), F.col("__asof_b").desc()]
    w = (
        Window.partitionBy(*by).orderBy(*order)
        if by
        else Window.orderBy(*order)
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    matched = u.withColumn("__asof_m", F.last("__asof_b", ignorenulls=True).over(w)).where(
        F.col("__asof_tag") == 1
    )

    m: Column = F.col("__asof_m")
    if tolerance is not None:
        if right_on not in carry:
            raise ConfigError("join.asof: tolerance needs the build time column carried (not a key)")
        from conveyor_spark.durations import parse_duration_seconds

        tol = parse_duration_seconds(tolerance, "join.asof tolerance")
        gap = F.abs(F.col("__asof_t").cast("double") - m[right_on].cast("double"))
        m = F.when(m.isNotNull() & (gap <= tol), m)
    out = matched.withColumn("__asof_m", m)
    if how == "inner":
        out = out.where(F.col("__asof_m").isNotNull())
    return out.select(
        *[F.col("__asof_p")[c].alias(c) for c in probe.columns],
        *[F.col("__asof_m")[c].alias(f"{prefix}{c}") for c in carry],
    )


@register(
    "join.range",
    kind="transform",
    min_inputs=2,
    max_inputs=2,
    doc="Point-in-interval join (bucketed equi-join or broadcast)",
    params=[
        P("on", required=True, desc="Point column in the probe input"),
        P("lower", required=True, desc="Interval start column in the build input"),
        P("upper", required=True, desc="Interval end column in the build input"),
        P("bounds", default="[)", allowed=("[)", "[]", "()", "(]"),
          desc="Interval bound inclusivity"),
        P("by", "array", desc="Equi-key column(s) to match within"),
        P("bucket", "any",
          desc="Bucket width (number/duration): turns the range join into a "
               "bucketed equi-join — the scale path"),
        P("how", default="inner", allowed=("inner", "left"), desc="Join type"),
        P("right_prefix", default="r_", desc="Prefix for build-side columns"),
        P("allow_broadcast", "boolean", default=False,
          desc="Allow the unbucketed broadcast-BNLJ fallback"),
    ],
    example={"on": "ts", "lower": "start_ts", "upper": "end_ts", "bucket": "1 hour"},
    tags=["join", "temporal"],
)
def join_range(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """inputs = [points, intervals]: pair each point row with every
    interval row whose [lower, upper) contains its value (bounds
    configurable: "[)", "[]", "()", "(]").

    Config: ``on`` (point column), ``lower``/``upper`` (interval
    columns), ``by`` (optional equi keys), ``bucket`` (width in the
    column's native unit — seconds for timestamps), ``right_prefix``
    (default ``r_``), ``how`` = inner (default) | left.

    Strategy: with ``bucket``, intervals explode to covered buckets
    (sequence(floor(lo/w), floor(hi/w))) and the join is an EQUI join
    on (keys..., bucket) + exact bound filter — shuffle-partitionable
    at any scale; interval length should be O(bucket width), else set
    a larger bucket. Without ``bucket``, intervals are broadcast and
    the predicate evaluates map-side (refused unless
    ``allow_broadcast=true`` acknowledges the small-intervals
    assumption, or ``by`` keys make it an equi-join anyway).
    """
    if len(inputs) != 2:
        raise ConfigError("join.range needs [points, intervals] inputs")
    points, intervals = inputs
    on, lower, upper = config.get("on"), config.get("lower"), config.get("upper")
    if not on or not lower or not upper:
        raise ConfigError("join.range requires 'on', 'lower', 'upper'")
    by = as_list(config.get("by") or [])
    bounds = config.get("bounds", "[)")
    how = config.get("how", "inner")
    prefix = config.get("right_prefix", "r_")
    bucket = config.get("bucket")

    carry = [c for c in intervals.columns if c not in by]
    bad = [c for c in points.columns if c in {f"{prefix}{x}" for x in carry}]
    if bad:
        raise ConfigError(f"join.range: point columns collide with prefixed interval columns: {bad}")
    r = intervals.select(*by, F.struct(*carry).alias("__rng_b"))

    def bound_pred(v: Column, b: Column) -> Column:
        lo, hi = b[lower], b[upper]
        p = v >= lo if bounds[0] == "[" else v > lo
        q = v <= hi if bounds[1] == "]" else v < hi
        return p & q

    v = F.col(on)
    if bucket is not None:
        from conveyor_spark.durations import parse_duration_seconds

        # "1 hour" etc. — the point column's native unit is seconds
        # for timestamps, so duration strings translate directly
        w = parse_duration_seconds(bucket, "join.range bucket")
        if w <= 0:
            raise ConfigError("join.range: bucket must be > 0")
        exploded = r.withColumn(
            "__rng_k",
            F.explode(
                F.sequence(
                    F.floor(F.col("__rng_b")[lower].cast("double") / w).cast("bigint"),
                    F.floor(F.col("__rng_b")[upper].cast("double") / w).cast("bigint"),
                )
            ),
        )
        p = points.withColumn("__rng_k", F.floor(v.cast("double") / w).cast("bigint"))
        joined = p.join(exploded, [*by, "__rng_k"], "inner").where(
            bound_pred(v, F.col("__rng_b"))
        )
        # the same (point, interval) pair can only meet in ONE bucket
        # (the point's), so no post-join dedup is needed.
        joined = joined.drop("__rng_k")
        if how == "left":
            matched = joined
            # NULL-SAFE anti-join: plain column-list equality would
            # never match a row containing a NULL (NULL = NULL is
            # NULL), re-emitting every matched-with-NULLs row as
            # unmatched too — silent duplicates
            mk = matched.select(
                *[F.col(c).alias(f"__m_{c}") for c in points.columns]
            ).distinct()
            anti = None
            for c in points.columns:
                e = F.col(c).eqNullSafe(F.col(f"__m_{c}"))
                anti = e if anti is None else anti & e
            missing = points.join(mk, anti, "left_anti").withColumn(
                "__rng_b", F.lit(None).cast(r.schema["__rng_b"].dataType)
            )
            joined = matched.unionByName(missing)
    else:
        if not by and not config.get("allow_broadcast", False):
            raise ConfigError(
                "join.range without 'bucket' broadcasts the whole interval side; "
                "pass bucket=<width>, by=<keys>, or allow_broadcast=true"
            )
        cond = bound_pred(v, F.col("__rng_b"))
        for k in by:
            cond = cond & (points[k] == r[k])
        joined = points.join(F.broadcast(r), cond, how).drop(*[r[k] for k in by])
    return joined.select(
        *[F.col(c) for c in points.columns],
        *[F.col("__rng_b")[c].alias(f"{prefix}{c}") for c in carry],
    )
