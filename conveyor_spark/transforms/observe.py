"""observe.apply — pipeline observability via Spark's CollectMetrics.

Named aggregate metrics (row counts, sums, null rates...) computed
DURING the sink's action — no extra job, no extra scan: Catalyst
plants a CollectMetrics node in the plan and the driver receives the
values when the action finishes. This is the Spark-native answer to
"how many rows passed this stage?" that per-stage `.count()` calls
would answer with a full re-execution each.

The reference has no observability surface; this is engine-level
value a 100 TB pipeline needs (a recount of a 100 TB stage is not an
option).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


@register(
    "observe.apply", kind="transform",
    doc="Attach named metrics collected during the sink action",
    params=[
        P("name", required=True, desc="Metric set name"),
        P("metrics", "array",
          desc="[{expr, alias}] aggregate expressions (default: row count)"),
    ],
    example={"name": "post_filter",
             "metrics": [{"expr": "count(1)", "alias": "n_rows"}]},
    tags=["observability"],
)
def observe_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Config: ``name`` (unique per pipeline, required), ``metrics``:
    list of {expr, alias} aggregate expressions (default: a row
    count as ``n_rows``). The stage passes its input through
    untouched; after the pipeline runs, the values appear in
    ``RunResult.metrics[name]``.

    Only metrics on executed branches materialize — an observed
    branch that never reaches a sink reports nothing (not an error).
    """
    df = inputs[0]
    name = config.get("name")
    if name in ctx.observations:
        raise ConfigError(f"observe.apply: duplicate observation name {name!r}")
    if df.isStreaming:
        raise ConfigError(
            "observe.apply is the batch path (Observation handles); streaming "
            "metrics arrive via StreamingQueryListener — not wired as a stage"
        )
    metrics = config.get("metrics") or [{"expr": "count(1)", "alias": "n_rows"}]
    exprs = []
    for m in metrics:
        if "expr" not in m or "alias" not in m:
            raise ConfigError("observe.apply: each metric needs 'expr' and 'alias'")
        exprs.append(F.expr(m["expr"]).alias(m["alias"]))
    obs = Observation(name)
    out = df.observe(obs, *exprs)
    # stage/df/exprs let the compiler fall back to an explicit agg job
    # for driver-iterating sinks (toLocalIterator never completes the
    # observation listener) — but ONLY on branches that fed a sink
    ctx.observations[name] = {
        "obs": obs, "stage": ctx.stage_id, "df": df, "exprs": exprs
    }
    return out
