"""orc / text / binary-file sources and the ORC sink.

Engine-native extensions (the reference's IO surface is csv/json/
excel/http/mongodb — SURVEY.md §2.1): a 100 TB corpus arrives in
whatever the upstream wrote — ORC from Hive-era warehouses, raw text
shards, and directories of media files. All three map to built-in
Spark file sources, so partition pruning and (for ORC) predicate
pushdown come from Catalyst for free.

``binary.read`` is the multimodal ingestion seam: each file becomes a
row (path, modificationTime, length, content binary) ready for
media.decode / media.metadata downstream. ``pathGlobFilter`` and
``recursiveFileLookup`` select within a tree without listing it
driver-side.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


@register(
    "orc.read", kind="source", doc="Read ORC file(s)/directory",
    params=[
        P("path", required=True, desc="File or directory path"),
        P("merge_schema", "boolean", default=False, desc="Merge schemas across files"),
    ],
    example={"path": "data/table.orc"},
    tags=["file", "orc", "batch"],
)
def orc_read(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    reader = ctx.spark.read
    if config.get("merge_schema"):
        reader = reader.option("mergeSchema", "true")
    return reader.orc(config["path"])


@register(
    "orc.write", kind="sink", doc="Write DataFrame as ORC",
    params=[
        P("path", required=True, desc="Output directory"),
        P("mode", default="overwrite",
          allowed=("overwrite", "append", "ignore", "error"), desc="Save mode"),
        P("partition_by", "array", desc="Hive-style partition column(s)"),
        P("compression", desc="Codec (snappy default; zlib/zstd/lzo/none)"),
        P("max_records_per_file", "integer", min=1, desc="Shard size cap per file"),
    ],
    example={"path": "out/result.orc"},
    tags=["file", "orc", "batch"],
)
def orc_write(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> None:
    """Same shard knobs as parquet.write: ``max_records_per_file``,
    ``compression`` (snappy default; zlib/zstd/lzo/none), and
    ``partition_by`` for hive-style layout."""
    path = config["path"]
    df = inputs[0]
    writer = df.write.mode(config.get("mode", "overwrite"))
    if parts := config.get("partition_by"):
        writer = writer.partitionBy(*([parts] if isinstance(parts, str) else parts))
    if (mrpf := config.get("max_records_per_file")) is not None:
        if int(mrpf) < 1:
            raise ConfigError("orc.write: max_records_per_file must be >= 1")
        writer = writer.option("maxRecordsPerFile", int(mrpf))
    if codec := config.get("compression"):
        writer = writer.option("compression", codec)
    writer.orc(path)
    return None


@register(
    "text.read", kind="source", doc="Read text files (line-per-row or whole-file)",
    params=[
        P("path", required=True, desc="File or directory path"),
        P("whole_file", "boolean", default=False,
          desc="One row per file instead of per line"),
        P("include_path", "boolean", default=False,
          desc="Add a `path` provenance column"),
        P("line_sep", desc="Record delimiter override"),
        P("glob", desc="pathGlobFilter pattern (e.g. *.txt)"),
    ],
    example={"path": "corpus/", "whole_file": True, "include_path": True},
    tags=["file", "text", "corpus"],
)
def text_read(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """``whole_file=false`` (default): one row per line, column
    ``value`` — the shape for log/corpus line shards; splitting is
    per-file-block, fully parallel. ``whole_file=true``: one row per
    file (a file = a document), plus ``path`` via
    ``include_path=true`` (F.input_file_name) for provenance.
    ``line_sep`` overrides the record delimiter."""
    from pyspark.sql import functions as F

    path = config["path"]
    # format("text").load(), NOT reader.text(): PySpark's .text()
    # re-sets its own wholetext/lineSep defaults over prior .option()s
    reader = ctx.spark.read.format("text")
    if config.get("whole_file"):
        reader = reader.option("wholetext", "true")
    if sep := config.get("line_sep"):
        reader = reader.option("lineSep", sep)
    if glob := config.get("glob"):
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if config.get("include_path"):
        df = df.select(F.input_file_name().alias("path"), "value")
    return df


@register(
    "binary.read", kind="source", doc="Read files as binary rows (multimodal ingestion)",
    params=[
        P("path", required=True, desc="File or directory path"),
        P("glob", desc="pathGlobFilter pattern (e.g. *.png)"),
        P("recursive", "boolean", default=False, desc="Recurse into subdirectories"),
        P("drop_content", "boolean", default=False,
          desc="Metadata-only scan (skip content IO)"),
    ],
    example={"path": "images/", "glob": "*.png"},
    tags=["file", "binary", "multimodal"],
)
def binary_read(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Spark's binaryFile source: (path, modificationTime, length,
    content). Config: ``glob`` -> pathGlobFilter (e.g. "*.png"),
    ``recursive`` -> recursiveFileLookup, ``drop_content=true`` to
    scan metadata only (the source still lists but skips content IO
    for pruned columns). Feed media.metadata / media.decode next."""
    path = config["path"]
    reader = ctx.spark.read.format("binaryFile")
    if glob := config.get("glob"):
        reader = reader.option("pathGlobFilter", glob)
    if config.get("recursive"):
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.load(path)
    if config.get("drop_content"):
        df = df.drop("content")
    return df
