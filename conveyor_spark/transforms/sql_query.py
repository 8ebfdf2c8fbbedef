"""sql.query — run Spark SQL over the stage's inputs.

No reference equivalent (its transforms are a fixed menu); on Spark
the natural escape hatch is the full SQL surface: inputs register as
temp views and the configured statement runs through Catalyst exactly
like the DataFrame ops (same optimizer, same pushdown — a sql.query
stage costs nothing over the equivalent built-in stages).

Config:
- ``sql`` (required): the statement.
- ``views``: names for the inputs, in stage-input order (defaults to
  t0, t1, ...).

Views are session-scoped temp views: two concurrently-built pipelines
in ONE SparkSession that reuse a view name would collide — name views
uniquely per pipeline (the spec validator already enforces unique
stage ids, which make good view names).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


@register(
    "sql.query", kind="transform", min_inputs=0, max_inputs=None,
    doc="Run a Spark SQL statement over the stage inputs (temp views)",
    params=[
        P("sql", required=True, desc="SQL statement"),
        P("views", "array",
          desc="View name per input (default: input_0, input_1, ...)"),
    ],
    example={"sql": "SELECT region, SUM(amount) AS total FROM input_0 GROUP BY region"},
    tags=["sql", "relational"],
)
def sql_query(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    sql = config.get("sql")
    if not str(sql).strip():
        raise ConfigError("sql.query requires 'sql'")
    views = config.get("views")
    if views is not None:
        views = [views] if isinstance(views, str) else list(views)
        if len(views) != len(inputs):
            raise ConfigError(
                f"sql.query: {len(views)} view names for {len(inputs)} inputs"
            )
    else:
        views = [f"t{i}" for i in range(len(inputs))]
        # also register the documented default names (input_0, ...)
        views = views + [f"input_{i}" for i in range(len(inputs))]
        inputs = inputs + inputs
    registered = []
    try:
        for name, df in zip(views, inputs):
            df.createOrReplaceTempView(name)
            registered.append(name)
        # spark.sql() analyzes eagerly, so the returned plan no
        # longer needs the views — drop them so a stage can't leak
        # (or keep clobbering) session temp views of the same name
        return ctx.spark.sql(str(sql))
    finally:
        # a statement that CACHEs a registered view creates a cache
        # BOUND to the view name; for those, the cascade drop is the
        # only thing that can ever release it (a name-only drop would
        # orphan the entry with nothing left to uncache it through)
        import re

        caches_views = bool(re.search(r"(?i)\bcache\b", str(sql or "")))
        for name in registered:
            if caches_views:
                ctx.spark.catalog.dropTempView(name)
            else:
                _drop_view_keep_caches(ctx.spark, name)


def _drop_view_keep_caches(spark, name: str) -> None:
    """Drop a temp view WITHOUT evicting caches.

    ``Catalog.dropTempView`` cascade-UNCACHES every cache whose plan
    matches the view's plan — and the view's plan IS the input
    DataFrame's plan, so a caller that cached an input (e.g. a
    vocabulary-bounded collapse feeding several consumers, q160's
    shape) had its cache silently destroyed by this op's view
    cleanup. The SessionCatalog drop removes only the name binding;
    the analyzed plan sql.query returned never needs the name again,
    and the caller's cache keeps serving its other consumers. Falls
    back to the public API when the JVM handle is unavailable
    (Spark Connect), where the trade is eviction vs a leaked name."""
    try:
        spark._jsparkSession.sessionState().catalog().dropTempView(name)
    except Exception:  # noqa: BLE001 — Connect client or API drift
        spark.catalog.dropTempView(name)
