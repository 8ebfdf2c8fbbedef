"""Example Python-module plugin for the plugin-registry flow.

Registered ops appear in the engine registry once the module is listed
in a pipeline's [global] plugins (reference analogue: a dylib plugin
installed from registry.json — docs/plugin-development-guide.md)."""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.registry import OpContext, P, register


@register(
    "uppercase.apply", kind="transform", doc="Uppercase a string column",
    params=[
        P("column", required=True, desc="String column"),
        P("output_column", desc="Result column (default: in place)"),
    ],
    example={"column": "name"},
    tags=["example", "plugin"],
)
def uppercase_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    column = config["column"]  # required: the registry checks it
    out = config.get("output_column", column)
    return inputs[0].withColumn(out, F.upper(F.col(column)))
