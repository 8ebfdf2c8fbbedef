"""excel.read / excel.write — XLSX via pandas on the driver.

Reference: plugins-wasm/conveyor-plugin-excel-wasm/src/lib.rs:62-173
(read sheet -> records, write records -> sheet). Excel files are
inherently small/driver-side (the reference's WASM plugin is also
single-node); for cluster-scale exchange use parquet/csv.

Import-gated: requires openpyxl (read) / openpyxl|xlsxwriter (write);
raises a clear ConfigError when the engine is missing.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


def _require_engine() -> None:
    try:
        import openpyxl  # noqa: F401
    except ImportError:
        raise ConfigError(
            "excel.read/write requires the 'openpyxl' package (not installed in "
            "this environment). Install it or exchange data as parquet/csv."
        ) from None


@register(
    "excel.read", kind="source", doc="Read an XLSX sheet into a DataFrame",
    params=[
        P("path", required=True, desc="XLSX file path"),
        P("sheet", "any", default=0, desc="Sheet index or name"),
        P("headers", "boolean", default=True, desc="First row is a header row"),
    ],
    example={"path": "data/book.xlsx", "sheet": 0},
    tags=["file", "excel", "driver-side"],
)
def excel_read(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    path = config.get("path")
    _require_engine()
    import pandas as pd

    pdf = pd.read_excel(
        path,
        sheet_name=config.get("sheet", 0),
        header=0 if config.get("headers", True) else None,
    )
    if not config.get("headers", True):
        pdf.columns = [f"column_{i}" for i in range(len(pdf.columns))]
    return ctx.spark.createDataFrame(pdf)


@register(
    "excel.write", kind="sink", doc="Write DataFrame to an XLSX sheet",
    params=[
        P("path", required=True, desc="XLSX output path"),
        P("sheet", default="Sheet1", desc="Sheet name"),
        P("headers", "boolean", default=True, desc="Write a header row"),
        P("max_rows", "integer", default=1000000, min=1,
          desc="Guard: refuse (error) to collect more rows than this "
               "to the driver"),
    ],
    example={"path": "out/report.xlsx"},
    tags=["file", "excel", "driver-side"],
)
def excel_write(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> None:
    path = config.get("path")
    _require_engine()
    df = inputs[0]
    # driver-side materialization — excel is not a distributed format;
    # guard against accidentally collecting a huge frame. REFUSE (the
    # param's promise) rather than silently truncate to max_rows.
    limit = int(config.get("max_rows", 1_000_000))
    pdf = df.limit(limit + 1).toPandas()
    if len(pdf) > limit:
        raise ConfigError(
            f"excel.write: input exceeds max_rows={limit}; raise max_rows "
            "deliberately or use a distributed sink"
        )
    pdf.to_excel(
        path,
        sheet_name=config.get("sheet", "Sheet1"),
        index=False,
        header=bool(config.get("headers", True)),
    )
    return None
