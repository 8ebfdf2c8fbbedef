"""json.write — DataFrame -> JSON array / JSONL / column-oriented.

Reference: src/modules/sinks/json.rs:93-211 (formats records|jsonl|
dataframe, ``pretty``). JSONL maps to Spark's native json writer;
``records`` (a single JSON array, optionally pretty) is inherently a
single-file format — produced by streaming partitions to the driver
(toLocalIterator) so we never hold the full dataset in driver memory.
"""

from __future__ import annotations

import json as _json
import os
from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.sinks.csv import _write_single_file


@register(
    "json.write", kind="sink", doc="Write DataFrame to JSON (records/jsonl/dataframe)",
    params=[
        P("path", required=True, desc="Output path"),
        P("format", default="records", allowed=("records", "jsonl", "dataframe"),
          desc="records: one JSON array; jsonl: object per line; dataframe: columnar"),
        P("pretty", "boolean", default=False, desc="Indent output"),
        P("single_file", "boolean", default=True,
          desc="One exact file vs a partitioned directory"),
        P("mode", default="overwrite",
          allowed=("overwrite", "append", "ignore", "error"), desc="Save mode"),
    ],
    example={"path": "out/result.json", "format": "jsonl"},
    tags=["file", "json"],
)
def json_write(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> None:
    path = config.get("path")
    df = inputs[0]
    fmt = config.get("format", "records")
    pretty = bool(config.get("pretty", False))

    if fmt == "jsonl" and not pretty:
        if config.get("single_file", True):
            _write_single_file(df, path, "json",
                               mode=config.get("mode", "overwrite"))
        else:
            df.write.mode(config.get("mode", "overwrite")).json(path)
        return None

    os.makedirs(os.path.dirname(os.path.abspath(path)) or ".", exist_ok=True)
    if fmt == "dataframe":
        # column-oriented {col: [values...]} — driver-side; reference
        # emits this shape for small frames only.
        cols = {c: [] for c in df.columns}  # type: ignore[var-annotated]
        for row in df.toLocalIterator():
            d = row.asDict(recursive=True)
            for c in df.columns:
                cols[c].append(d[c])
        with open(path, "w", encoding="utf-8") as f:  # noqa: PTH123
            _json.dump(cols, f, indent=2 if pretty else None, default=str)
        return None

    # records (JSON array) or pretty jsonl: stream rows to driver.
    with open(path, "w", encoding="utf-8") as f:  # noqa: PTH123
        if fmt == "records":
            f.write("[\n" if pretty else "[")
            first = True
            for row in df.toLocalIterator():
                if not first:
                    f.write(",\n" if pretty else ",")
                first = False
                f.write(
                    _json.dumps(row.asDict(recursive=True), indent=2 if pretty else None, default=str)
                )
            f.write("\n]" if pretty else "]")
        else:  # pretty jsonl
            for row in df.toLocalIterator():
                f.write(_json.dumps(row.asDict(recursive=True), default=str) + "\n")
    return None
