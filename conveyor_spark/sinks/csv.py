"""csv.write — DataFrame -> CSV.

Reference: src/modules/sinks/csv.rs:80-126 (single file, creates
parent dirs). Spark writes a directory of part files; ``single_file``
(default true, for reference parity) coalesces to one partition and
renames the part file to the requested path. At scale set
``single_file=false`` — a 100 TB result must stay partitioned.
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


def _write_single_file(
    df: DataFrame, path: str, fmt: str, mode: str = "overwrite", **options: Any
) -> None:
    """Write via a temp dir then move the single part file to `path`.

    Honors the declared save modes against the DESTINATION file (the
    temp-dir indirection would otherwise silently overwrite):
    error/ignore check existence; append is refused — a single exact
    file has no safe concat semantics across schemas/headers (use
    single_file=false for append)."""
    if mode == "append":
        raise ConfigError(
            f"{fmt}.write: mode='append' is not supported with "
            "single_file=true (a single exact file cannot be appended "
            "safely); set single_file=false"
        )
    if os.path.exists(path):
        if mode == "ignore":
            return
        if mode in ("error", "errorifexists"):
            raise ConfigError(f"{fmt}.write: {path!r} already exists (mode='error')")
    tmp = path + ".__tmp__"
    df.coalesce(1).write.mode("overwrite").options(**options).format(fmt).save(tmp)
    # glob.escape: the user's path may contain [, ], * (glob syntax)
    part = glob.glob(os.path.join(glob.escape(tmp), "part-*"))[0]
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    shutil.move(part, path)
    shutil.rmtree(tmp, ignore_errors=True)


@register(
    "csv.write", kind="sink", doc="Write DataFrame to CSV",
    params=[
        P("path", required=True, desc="Output path"),
        P("single_file", "boolean", default=True,
          desc="One exact file (reference parity) vs a partitioned directory"),
        P("headers", "boolean", default=True, desc="Write a header row"),
        P("has_headers", "boolean", desc="Reference-spec alias for headers"),
        P("delimiter", default=",", desc="Field delimiter"),
        P("mode", default="overwrite",
          allowed=("overwrite", "append", "ignore", "error"), aliases=("errorifexists",),
          desc="Save mode"),
    ],
    example={"path": "out/result.csv", "single_file": True},
    tags=["file", "csv"],
)
def csv_write(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> None:
    path = config.get("path")
    df = inputs[0]
    # `has_headers` is the reference's documented key
    headers = bool(config.get("headers", config.get("has_headers", True)))
    delimiter = str(config.get("delimiter", ","))
    if config.get("single_file", True):
        _write_single_file(df, path, "csv", mode=config.get("mode", "overwrite"),
                           header=str(headers).lower(), sep=delimiter)
    else:
        df.write.mode(config.get("mode", "overwrite")).options(
            header=str(headers).lower(), sep=delimiter
        ).csv(path)
    return None
