"""Corpus selection & diagnostics operators: per-group top-k,
weighted sampling without replacement, and key-skew analysis.

Not in the reference (its surface stops at relational ETL — SURVEY.md
§2); first-class here because corpus curation at 100 TB is mostly
*selection*: keep the k best documents per domain, draw a
quality-weighted subsample for ablations, and find the keys that will
melt a shuffle before launching it.

Scale design:

- ``topk.apply`` is one shuffle on the group key + a bounded
  per-partition sort (WindowExec with a rank<=k filter). For hot
  groups (a domain with 10^9 docs) the optional ``salt=N`` switch
  runs a two-phase tournament: local top-k within (group, salt
  bucket) first — each bucket sees ~1/N of the group — then the
  final top-k over at most N*k survivors per group. Top-k is
  distributive, so the result is identical; the sort input for the
  hot key drops by ~N×.
- ``sample.weighted`` is Efraimidis–Spirakis A-Res: priority
  key = -ln(u)/w with u a pure hash of (id, seed) — deterministic on
  any partitioning/rerun — and the global "smallest k keys" is a
  sort+limit, which Spark executes as TakeOrderedAndProject:
  per-partition top-k heaps + a driver merge of P*k rows, never a
  global sort. Document size guard: k*P rows hit the driver, so this
  is for sample sizes up to ~10^6; beyond that use sample.stratified
  (fraction-based, fully distributed).
- ``skew.analyze`` answers "is this key safe to shuffle on" with ONE
  shuffle of the input at the key's grain: groupBy(key).count(),
  then a tiny re-aggregation of the group counts for the totals and
  a TakeOrdered for the heavy hitters. The output is small by
  construction (top N rows).
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, as_list, register
from conveyor_spark.datapipe.hashing import md5_int
from conveyor_spark.ordering import split_dir as _split_dir


def _order_cols(order_by: Any) -> list[Column]:
    """[{column, direction}] or ["col", "col desc", ...] -> Columns."""
    cols: list[Column] = []
    for item in order_by:
        if isinstance(item, str):
            name, desc = _split_dir(item)
            cols.append(F.col(name).desc() if desc else F.col(name).asc())
        else:
            c = F.col(item["column"])
            cols.append(
                c.desc() if str(item.get("direction", "asc")).lower() in ("desc", "descending") else c.asc()
            )
    return cols


@register(
    "topk.apply", kind="transform",
    doc="Top-k rows per group (optionally salted two-phase)",
    params=[
        P("order_by", "array", required=True,
          desc="Ranking columns ('name' or 'name desc')"),
        P("k", "integer", required=True, min=1, desc="Rows kept per group"),
        P("by", "array", required=True, desc="Group key column(s)"),
        P("rank_column", desc="Also emit the rank here"),
        P("salt", "integer", default=0, min=0,
          desc="Two-phase tournament over N salts (hot-key guard)"),
    ],
    example={"by": ["category"], "order_by": ["score desc"], "k": 10},
    tags=["selection", "topk", "datapipe"],
)
def topk_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Keep the k best rows per group.

    Config: ``by`` (group columns), ``order_by`` (ranking columns,
    ``[{column, direction}]`` — include a unique tie-breaker, e.g. the
    id, or equal-ranked rows at the k boundary are partition-order
    dependent), ``k``, optional ``rank_column`` (emit the 1-based
    rank), optional ``salt`` (int N: two-phase tournament for hot
    groups — phase 1 takes top-k within (group, hash(tie)%N), phase 2
    takes top-k of the ≤N*k survivors; identical result, ~N× less
    sort input on the hottest key).
    """
    df = inputs[0]
    by = as_list(config.get("by"))
    order_by = config.get("order_by")
    k = int(config["k"])
    if k < 1:
        raise ConfigError(f"topk.apply: k must be >= 1, got {k}")
    order = _order_cols(order_by)
    rank_col = config.get("rank_column")
    salt = int(config.get("salt", 0) or 0)
    out_cols = df.columns

    if salt > 1:
        # Phase 1: local tournament. Bucket on a hash of the LAST
        # order column (the tie-breaker, unique by contract) so equal
        # rows land deterministically; each bucket holds ~1/salt of
        # the group and its top-k is computed from a far smaller sort.
        last = order_by[-1]
        tie = _split_dir(last)[0] if isinstance(last, str) else last["column"]
        bucket = F.pmod(F.xxhash64(F.col(tie).cast("string")), F.lit(salt))
        w1 = Window.partitionBy(*by, bucket).orderBy(*order)
        df = (
            df.withColumn("__rk1", F.row_number().over(w1))
            .filter(F.col("__rk1") <= k)
            .drop("__rk1")
        )

    w = Window.partitionBy(*by).orderBy(*order)
    ranked = df.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= k)
    if rank_col:
        return ranked.withColumnRenamed("__rk", rank_col).select(*out_cols, rank_col)
    return ranked.drop("__rk").select(*out_cols)


@register(
    "sample.weighted", kind="transform",
    doc="Deterministic weighted sample without replacement",
    params=[
        P("weight_column", required=True, desc="Positive sampling weight"),
        P("k", "integer", required=True, min=1, desc="Sample size"),
        P("id_column", required=True, desc="Row id (deterministic A-Res keys)"),
        P("key_column", desc="Also emit the A-Res key here"),
        P("seed", default="wsample", desc="Hash seed"),
    ],
    example={"weight_column": "quality", "k": 10000, "id_column": "doc_id"},
    tags=["selection", "sampling", "datapipe"],
)
def sample_weighted(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Efraimidis–Spirakis A-Res weighted reservoir selection.

    Config: ``weight_column`` (positive numeric — rows with NULL or
    <=0 weight are excluded), ``k`` (sample size), ``id_column``
    (uniqueness source for the hash), ``seed`` (default "wsample"),
    ``key_column`` (optional: emit the priority key).

    Each row gets u = hash(id, seed) mapped into (0,1) and priority
    key = -ln(u)/w; the k smallest keys are a weighted sample without
    replacement (Efraimidis & Spirakis 2006). u is a pure function of
    (id, seed) — the same rows are selected on any partitioning,
    cluster size, or rerun.

    Scale: sort+limit k compiles to TakeOrderedAndProject (per-
    partition heaps, driver merges P*k rows). Sized for k up to
    ~10^6; for larger draws use sample.stratified.
    """
    df = inputs[0]
    wcol = config.get("weight_column")
    k = int(config["k"])
    id_column = config.get("id_column")
    seed = config.get("seed", "wsample")
    # u in (0,1]: 60-bit md5 of "id|seed", +1 to avoid ln(0)
    u = (
        md5_int(F.concat(F.col(id_column).cast("string"), F.lit(f"|{seed}"))) + F.lit(1)
    ).cast("double") / F.lit(float(1 << 60))
    w = F.col(wcol).cast("double")
    key = -F.log(u) / w
    # NULL id would hash to NULL __wkey and, under Spark's NULLS FIRST
    # ascending default, preempt the whole sample — exclude it like
    # NULL/<=0 weights, and order NULLS LAST as belt-and-braces
    keyed = (
        df.filter(w.isNotNull() & (w > 0) & F.col(id_column).isNotNull())
        .withColumn("__wkey", key)
    )
    out = keyed.orderBy(
        F.col("__wkey").asc_nulls_last(), F.col(id_column).asc_nulls_last()
    ).limit(k)
    if key_column := config.get("key_column"):
        return out.withColumnRenamed("__wkey", key_column)
    return out.drop("__wkey")


@register(
    "sample.balanced", kind="transform",
    doc="Cap rows per group (deterministic hash order)",
    params=[
        P("by", "array", required=True, desc="Group key column(s)"),
        P("cap", "integer", required=True, min=1, desc="Max rows per group"),
        P("id_column", required=True, desc="Row id (deterministic order)"),
        P("seed", default="balance", desc="Hash seed"),
        P("salt", "integer", default=0, min=0,
          desc="Two-phase tournament over N salts (hot-key guard)"),
    ],
    example={"by": ["language"], "cap": 100000, "id_column": "doc_id"},
    tags=["selection", "sampling", "datapipe"],
)
def sample_balanced(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Group-balanced downsampling: keep at most ``cap`` rows per
    group, selected in deterministic hash order — the corpus
    rebalancing pass ("≤ 1M docs per language/domain") that caps head
    groups without touching the tail.

    Config: ``by`` (group columns), ``cap``, ``id_column``, ``seed``
    (default "balance"), optional ``salt`` (two-phase tournament for
    hot groups, same scheme as topk.apply — a group with 10^9 rows
    never funnels through one sort).

    vs sample.stratified: that needs a per-group *fraction* known up
    front; this enforces an absolute per-group budget regardless of
    group size. Selection is a pure function of (id, seed): the same
    rows survive on any partitioning or cluster size.
    """
    df = inputs[0]
    by = as_list(config.get("by"))
    cap = config.get("cap")
    id_column = config.get("id_column")
    seed = config.get("seed", "balance")
    out_cols = df.columns
    pri = md5_int(F.concat(F.col(id_column).cast("string"), F.lit(f"|{seed}")))
    ranked = df.withColumn("__pri", pri)
    picked = topk_apply(
        ctx,
        [ranked],
        {
            "by": by,
            "k": int(cap),
            "order_by": [{"column": "__pri"}, {"column": id_column}],
            "salt": config.get("salt", 0),
        },
    )
    return picked.drop("__pri").select(*out_cols)


@register(
    "skew.analyze", kind="transform",
    doc="Key-distribution diagnostics: heavy hitters + shares",
    params=[
        P("by", "array", required=True, desc="Key column(s) to profile"),
        P("top", "integer", default=20, min=1, desc="Heavy hitters to report"),
    ],
    example={"by": ["user_id"], "top": 20},
    tags=["diagnostics", "skew", "datapipe"],
)
def skew_analyze(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Answer "is this key safe to shuffle on?" before the shuffle.

    Config: ``by`` (key columns), ``top`` (heavy hitters to keep,
    default 20).

    Output: one row per heavy hitter — the key columns, ``cnt``,
    ``share`` (cnt/total), ``avg_share`` (1/distinct-keys: a uniform
    key's share), ``skew`` (share/avg_share — how many times hotter
    than uniform; >~5 on a join key means salt it), ``rank``.

    Plan: ONE shuffle of the input at the key grain (partial agg
    map-side), then a single-row re-agg of the group counts (total +
    distinct) broadcast back over the top-N rows. Output is top-N
    rows; nothing large ever leaves the executors.
    """
    df = inputs[0]
    by = as_list(config.get("by"))
    top = int(config.get("top", 20))
    counts = df.groupBy(*by).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("__total"), F.count(F.lit(1)).alias("__groups")
    )
    heavy = counts.orderBy(F.col("cnt").desc(), *[F.col(c).asc() for c in by]).limit(top)
    # Rank WITHOUT a window: a global row_number would either warn
    # (empty partition spec -> single-partition WindowExec) or need a
    # two-phase index — overkill for <=top rows. Instead: rank = 1 +
    # |rows that sort strictly before me|, via a broadcast self-join
    # on the (<=top)-row survivor set. Sort order (cnt desc, keys
    # asc) becomes a lexicographic struct comparison on (-cnt, keys).
    okey = F.struct(
        (-F.col("cnt")).alias("_nc"), *[F.col(c).alias(f"_k{i}") for i, c in enumerate(by)]
    )
    mine = heavy.withColumn("__ok", okey)
    other = heavy.select(okey.alias("__ok2"))
    ranked = (
        mine.join(F.broadcast(other), F.col("__ok2") < F.col("__ok"), "left")
        .groupBy(*by, "cnt")
        .agg((F.count("__ok2") + F.lit(1)).cast("int").alias("rank"))
    )
    return (
        ranked.crossJoin(F.broadcast(totals))
        .withColumn("share", F.col("cnt").cast("double") / F.col("__total").cast("double"))
        .withColumn(
            "skew",
            F.col("cnt").cast("double") * F.col("__groups").cast("double")
            / F.col("__total").cast("double"),
        )
        .select(*by, "cnt", "share", "skew", "rank")
    )
