"""json.read — JSON array / JSONL scan.

Reference: src/modules/sources/json.rs:80-131 — ``format`` selects
records (JSON array -> row records), jsonl (newline-delimited), or
dataframe (Polars column-oriented JSON). Spark's JSON reader covers
array-of-objects via ``multiLine`` and JSONL natively; the reference's
schemaless RecordBatch rows become ordinary DataFrame rows with an
inferred (or supplied) schema — missing keys surface as nulls, which
matches the reference's missing-key -> null behavior
(src/modules/transforms/json_extract.rs:124-131).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


@register(
    "json.read", kind="source", doc="Read JSON array/JSONL into a DataFrame",
    params=[
        P("path", required=True, desc="File or directory path"),
        P("format", default="records", allowed=("records", "jsonl", "dataframe"),
          desc="records: one JSON array; jsonl: one object per line; dataframe: columnar object"),
        P("schema", desc="DDL schema string; inferred when omitted"),
    ],
    example={"path": "data/input.json", "format": "records"},
    tags=["file", "json", "batch"],
)
def json_read(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    path = config.get("path")
    fmt = config.get("format", "records")
    reader = ctx.spark.read
    if schema := config.get("schema"):
        reader = reader.schema(schema)
    if fmt == "records":
        # whole-file JSON array => multiLine mode
        return reader.option("multiLine", True).json(path)
    if fmt == "jsonl":
        return reader.json(path)
    # "dataframe" (column-oriented {col: [values...]}) — rare; read the
    # object and explode columns via pandas on the driver (small files
    # by construction in the reference).
    import json as _json

    import pandas as pd

    with open(path, "r", encoding="utf-8") as f:  # noqa: PTH123
        payload = _json.load(f)
    if not isinstance(payload, dict):
        raise ConfigError("json.read format=dataframe expects a JSON object of columns")
    return ctx.spark.createDataFrame(pd.DataFrame(payload))
