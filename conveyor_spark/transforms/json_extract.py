"""json.extract — dot-path extraction from a JSON-string column.

Reference: src/modules/transforms/json_extract.rs:69-132 — parse a
JSON string column, walk a dot path, emit a new *string* column (null
on missing path / parse failure).

Spark-first: ``get_json_object(col, '$.a.b')`` — a JVM-side codegen'd
expression (no Python). Reference semantics preserved: result is
always a string column; missing -> null.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


def dot_path_to_jsonpath(path: str) -> str:
    """``a.b.c`` -> ``$.a.b.c`` (reference walks raw dot segments)."""
    if path.startswith("$"):
        return path
    return "$." + path


@register(
    "json.extract", kind="transform", streaming_capable=True,
    doc="Extract dot-path from JSON string column",
    params=[
        P("column", required=True, desc="JSON string column"),
        P("path", required=True, desc="Dot path (e.g. user.address.city)"),
        P("output_column", required=True, desc="Column to create"),
    ],
    example={"column": "props", "path": "user.id", "output_column": "user_id"},
    tags=["json"],
)
def json_extract(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    column = config.get("column")
    path = config.get("path")
    output_column = config.get("output_column")
    return df.withColumn(
        output_column, F.get_json_object(F.col(column), dot_path_to_jsonpath(path))
    )


@register(
    "json.parse", kind="transform", streaming_capable=True,
    doc="Typed from_json parse of a JSON string column",
    params=[
        P("column", required=True, desc="JSON string column"),
        P("schema", required=True, desc="DDL schema of the parsed struct"),
        P("flatten", "boolean", default=False,
          desc="Expand the struct's fields as top-level columns"),
        P("fail_on_error", "boolean", default=False,
          desc="Error on malformed JSON instead of null"),
    ],
    example={"column": "payload", "schema": "id INT, tags ARRAY<STRING>", "flatten": True},
    tags=["json"],
)
def json_parse(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """json.extract's typed sibling: parse the whole JSON column
    against a DECLARED schema in one from_json (one parse per row no
    matter how many fields — N get_json_object calls parse N times).

    Config: ``column``, ``schema`` (Spark DDL, e.g. "k INT, tags
    ARRAY<STRING>"), ``output_column`` (default: struct column
    "<column>_parsed") or ``flatten=true`` (lift every top-level
    field to its own column; collisions error). Malformed rows yield
    NULL fields (PERMISSIVE); ``fail_on_error=true`` switches to
    FAILFAST. The schema is explicit by design — schema inference on
    100 TB means an extra full scan before the real one.
    """
    df = inputs[0]
    column = config.get("column")
    schema = config.get("schema")
    opts = {"mode": "FAILFAST"} if config.get("fail_on_error") else {}
    parsed = F.from_json(F.col(column).cast("string"), schema, opts)
    if config.get("flatten", False):
        tmp = "__jp"
        staged = df.withColumn(tmp, parsed)
        new_fields = staged.schema[tmp].dataType.fieldNames()
        clash = set(new_fields) & set(df.columns)
        if clash:
            raise ConfigError(
                f"json.parse: flatten would overwrite existing columns {sorted(clash)}; "
                "set output_column instead"
            )
        return staged.select("*", f"{tmp}.*").drop(tmp)
    out_col = config.get("output_column", f"{column}_parsed")
    return df.withColumn(out_col, parsed)
