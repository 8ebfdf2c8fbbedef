"""select.apply — column projection.

Reference: src/modules/transforms/select.rs:52-81 (`columns`: str|[str]).
Projection is expressed declaratively so Catalyst prunes columns all
the way into the parquet scan (ReadSchema shrinks — no full-width read
for a 2-column projection).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.registry import OpContext, P, as_list, register


@register(
    "select.apply", kind="transform", doc="Project columns",
    params=[P("columns", "array", required=True, desc="Columns to keep, in order")],
    example={"columns": ["id", "name"]},
    tags=["projection", "relational"],
)
def select_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    cols = config.get("columns")
    return inputs[0].select(*as_list(cols))
