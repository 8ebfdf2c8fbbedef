"""Snapshot maintenance ops: `table.upsert` and `diff.apply`.

Parquet tables have no MERGE; the scalable equivalent is
merge-as-rewrite: join the current snapshot with a (much smaller)
change set and write the next snapshot. These two ops are the
relational core of that loop — upsert produces the next snapshot,
diff audits what changed between two of them (the regression check
after a pipeline change: "the refactor altered 12 rows, all in
column x").

Scale design: both are single equi-joins on the key. The change set
in an upsert is typically tiny next to the snapshot — Spark
broadcasts it when it fits (AQE decides); the snapshot itself never
shuffles in that case. diff joins two snapshots of similar size —
a shuffle join on the key, with column comparison as codegen'd
struct equality (NULL-safe), no Python.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


def _keys(config: dict[str, Any]) -> list[str]:
    keys = config["key"]
    return [keys] if isinstance(keys, str) else list(keys)


@register(
    "table.upsert", kind="transform", min_inputs=2, max_inputs=2,
    doc="Merge a change set into a snapshot (upsert + optional delete)",
    params=[
        P("key", "array", required=True, desc="Merge key column(s)"),
        P("delete_column", desc="Boolean column in changes marking deletions"),
        P("on_duplicate", default="error", allowed=("error", "last_wins"),
          desc="Duplicate keys in the change set: fail or keep last"),
        P("order_column", desc="Ordering for on_duplicate=last_wins"),
    ],
    example={"key": ["id"], "on_duplicate": "last_wins", "order_column": "updated_at"},
    tags=["cdc", "merge"],
)
def table_upsert(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """inputs = [snapshot, changes]. Rows in ``changes`` replace
    snapshot rows with the same key; new keys are inserted; snapshot
    rows without a change pass through. ``delete_column`` (optional):
    a boolean column in the change set — true rows DELETE the key
    instead of upserting (the column itself is not emitted).

    The change set must carry ONE row per key — a real MERGE errors on
    duplicate source keys, and so does this op (``on_duplicate="error"``,
    the default; checked with a window count over the change set only —
    the snapshot never pays for it). ``on_duplicate="last_wins"`` keeps
    the latest row per key by ``order_column`` instead.

    Schemas must match on the emitted columns (the change set may
    carry the delete flag / order column extra). One equi-join; the
    change side broadcasts when small (AQE)."""
    from pyspark.sql import Window

    snapshot, changes = inputs
    keys = _keys(config)
    delete_col = config.get("delete_column")
    on_dup = config.get("on_duplicate", "error")
    order_col = config.get("order_column")
    if on_dup == "last_wins":
        if not order_col:
            raise ConfigError("table.upsert: on_duplicate='last_wins' requires 'order_column'")
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc_nulls_last())
        changes = (
            changes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if order_col not in snapshot.columns:
            changes = changes.drop(order_col)
    change_cols = [c for c in changes.columns if c != delete_col]
    if set(change_cols) != set(snapshot.columns):
        raise ConfigError(
            "table.upsert: change-set columns must match the snapshot "
            f"(snapshot {sorted(snapshot.columns)}, changes {sorted(change_cols)})"
        )
    if delete_col and delete_col not in changes.columns:
        raise ConfigError(f"table.upsert: delete_column {delete_col!r} not in change set")
    if on_dup == "error":
        dup_guard = F.when(
            F.count(F.lit(1)).over(Window.partitionBy(*keys)) > 1,
            F.raise_error(F.lit(
                "table.upsert: duplicate key in change set "
                "(one row per key required; use on_duplicate='last_wins' "
                "with order_column to keep the latest)"
            )).cast("boolean"),
        ).otherwise(F.lit(True))
        # window exprs are illegal in WHERE — materialize, filter, drop
        changes = (
            changes.withColumn("__dup_ok", dup_guard)
            .filter(F.col("__dup_ok"))
            .drop("__dup_ok")
        )

    # kept snapshot rows: anti-join against ALL change keys (updates
    # and deletes both retire the old row)
    kept = snapshot.join(changes.select(*keys), keys, "left_anti")
    incoming = changes
    if delete_col:
        incoming = incoming.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    return kept.unionByName(incoming.select(*snapshot.columns))


@register(
    "scd2.apply", kind="transform", min_inputs=2, max_inputs=2,
    doc="Slowly-changing-dimension type 2 historization",
    params=[
        P("key", "array", required=True, desc="Dimension key column(s)"),
        P("ts_column", required=True, desc="Effective-time column in updates"),
        P("valid_from", default="valid_from", desc="History start column"),
        P("valid_to", default="valid_to", desc="History end column"),
        P("current_flag", default="is_current", desc="Current-row flag column"),
        P("skip_unchanged", "boolean", default=True,
          desc="Ignore updates identical to the current row"),
    ],
    example={"key": ["customer_id"], "ts_column": "updated_at"},
    tags=["cdc", "scd"],
)
def scd2_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """inputs = [history, updates]. Type-2 maintenance: an update for
    an existing key CLOSES the current row (valid_to = effective
    time) and opens a new current one; new keys open directly.
    History rows already closed pass through untouched.

    Config: ``key`` (business key columns), ``ts_column`` (the
    effective timestamp in the update set), ``valid_from`` /
    ``valid_to`` / ``current_flag`` (history column names, defaults
    "valid_from"/"valid_to"/"is_current"), ``skip_unchanged``
    (default true: an update identical to the current row on every
    tracked column is a no-op instead of a new version).

    The update set must carry ONE row per key per run — take the
    latest beforehand with topk.apply k=1 (documented contract; SCD2
    with intra-batch sequences needs an ordered multi-version apply,
    a different op).

    Scale: two equi-joins on the business key (current rows x
    updates); closed history never joins at all — it filters through.
    """
    history, updates = inputs
    keys = _keys(config)
    ts_col = config.get("ts_column")
    vf = config.get("valid_from", "valid_from")
    vt = config.get("valid_to", "valid_to")
    cf = config.get("current_flag", "is_current")
    skip_unchanged = bool(config.get("skip_unchanged", True))
    meta = {vf, vt, cf}
    value_cols = [c for c in history.columns if c not in keys and c not in meta]
    expect_hist = set(keys) | set(value_cols) | meta
    if set(history.columns) != expect_hist:
        raise ConfigError(
            f"scd2.apply: history needs columns {sorted(expect_hist)}, has "
            f"{sorted(history.columns)}"
        )
    expect_upd = set(keys) | set(value_cols) | {ts_col}
    if set(updates.columns) != expect_upd:
        raise ConfigError(
            f"scd2.apply: updates need columns {sorted(expect_upd)}, have "
            f"{sorted(updates.columns)}"
        )

    closed_hist = history.filter(~F.coalesce(F.col(cf), F.lit(False)))
    current = history.filter(F.coalesce(F.col(cf), F.lit(False))).withColumn(
        "__in_cur", F.lit(True)
    )
    # NULL effective timestamps would silently corrupt valid_from/valid_to;
    # fail the job at the first offending row (codegen'd, no extra pass).
    eff_guard = F.coalesce(
        F.col(ts_col),
        F.raise_error(
            F.lit(f"scd2.apply: NULL {ts_col!r} in update set")
        ).cast(updates.schema[ts_col].dataType),
    )
    u = updates.select(
        *keys, eff_guard.alias("__eff"), F.lit(True).alias("__in_upd"),
        *[F.col(c).alias(f"__u_{c}") for c in value_cols],
    )
    j = current.join(u, keys, "full_outer")
    # explicit presence flags — value-based markers (valid_from / __eff
    # IS NOT NULL) misclassify legitimately-NULL values, same reasoning
    # as diff.apply's __in_b/__in_a below
    has_cur = F.col("__in_cur").isNotNull()
    has_upd = F.col("__in_upd").isNotNull()
    same = F.lit(True)
    for c in value_cols:
        same = same & F.col(c).eqNullSafe(F.col(f"__u_{c}"))
    real_change = has_upd & (~has_cur | ~same) if skip_unchanged else has_upd

    cols = history.columns
    eff_t = updates.schema[ts_col].dataType
    if (eff_t == history.schema[vf].dataType
            and eff_t == history.schema[vt].dataType):
        # ONE evaluation of the business-key join (r13): each j row
        # emits its 0-2 output versions via a conditional struct
        # array + explode, replacing three filtered re-evaluations of
        # the same full-outer join (keep-current / close / open) that
        # tripled the join work (12 parquet scans in the q100 plan; 4
        # after). Same rows, branch for branch; guarded on the
        # effective-ts type matching valid_from/valid_to so no branch
        # needs the union's implicit type coercion (mismatched-type
        # callers take the coercing union below, unchanged).
        def branch(overrides: dict):
            return F.struct(*[
                (overrides[c] if c in overrides else F.col(c)).alias(c)
                for c in cols
            ])

        keep_s = branch({})
        closed_s = branch({vt: F.col("__eff"), cf: F.lit(False)})
        opened_s = branch({
            **{c: F.col(f"__u_{c}") for c in value_cols},
            vf: F.col("__eff"),
            vt: F.lit(None).cast(j.schema[vt].dataType),
            cf: F.lit(True),
        })
        emitted = j.select(
            F.explode(F.filter(F.array(
                F.when(has_cur & ~real_change, keep_s),
                F.when(has_cur & real_change, closed_s),
                F.when(real_change, opened_s),
            ), lambda x: x.isNotNull())).alias("__r")
        ).select("__r.*")
        return closed_hist.select(*cols).unionByName(emitted)

    # surviving current rows: untouched keys, or unchanged-skip keys
    keep_current = j.filter(has_cur & ~real_change).select(*history.columns)
    # closed versions: current rows whose key got a real update
    closed_now = j.filter(has_cur & real_change).select(
        *keys, *value_cols,
        F.col(vf),
        F.col("__eff").alias(vt),
        F.lit(False).alias(cf),
    )
    # new current versions (updates for existing keys + brand-new keys)
    opened = j.filter(real_change).select(
        *keys,
        *[F.col(f"__u_{c}").alias(c) for c in value_cols],
        F.col("__eff").alias(vf),
        F.lit(None).cast(j.schema[vt].dataType).alias(vt),
        F.lit(True).alias(cf),
    )
    cols = history.columns
    return (
        closed_hist.select(*cols)
        .unionByName(keep_current.select(*cols))
        .unionByName(closed_now.select(*cols))
        .unionByName(opened.select(*cols))
    )


@register(
    "diff.apply", kind="transform", min_inputs=2, max_inputs=2,
    doc="Row-level diff of two snapshots (added/removed/changed)",
    params=[
        P("key", "array", required=True, desc="Row identity column(s)"),
        P("include_unchanged", "boolean", default=False,
          desc="Also emit unchanged rows"),
    ],
    example={"key": ["id"]},
    tags=["cdc", "diff"],
)
def diff_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """inputs = [before, after]. Output: key columns + ``diff_status``
    in (added, removed, changed) + ``changed_columns`` (array of the
    non-key columns whose values differ; empty for added/removed).
    Unchanged rows are omitted (``include_unchanged=true`` keeps them
    with status 'unchanged').

    Comparison is NULL-safe (<=> semantics): NULL -> NULL is
    unchanged, NULL -> value is a change. One full outer equi-join;
    per-column compares are codegen'd expressions.
    """
    before, after = inputs
    keys = _keys(config)
    if set(before.columns) != set(after.columns):
        raise ConfigError(
            "diff.apply: snapshots must share a schema "
            f"({sorted(before.columns)} vs {sorted(after.columns)})"
        )
    value_cols = [c for c in before.columns if c not in keys]
    b = before.select(
        *[F.col(c).alias(f"__b_{c}") if c not in keys else F.col(c) for c in before.columns]
    )
    a = after.select(
        *[F.col(c).alias(f"__a_{c}") if c not in keys else F.col(c) for c in after.columns]
    )
    # presence markers: "any value column non-null" is unreliable
    # (rows can be legitimately all-NULL), so join explicit flags
    b2 = b.withColumn("__in_b", F.lit(True))
    a2 = a.withColumn("__in_a", F.lit(True))
    j = b2.join(a2, keys, "full_outer")
    changed_arr = F.filter(
        F.array(*[
            F.when(~F.col(f"__b_{c}").eqNullSafe(F.col(f"__a_{c}")), F.lit(c))
            for c in value_cols
        ]) if value_cols else F.array().cast("array<string>"),
        lambda x: x.isNotNull(),
    )
    status = (
        F.when(F.col("__in_b").isNull(), F.lit("added"))
        .when(F.col("__in_a").isNull(), F.lit("removed"))
        .when(F.size(changed_arr) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        *keys,
        status.alias("diff_status"),
        F.when(status == "changed", changed_arr)
        .otherwise(F.array().cast("array<string>"))
        .alias("changed_columns"),
    )
    if not config.get("include_unchanged", False):
        out = out.filter(F.col("diff_status") != "unchanged")
    return out
