"""xml.read / xml.write — XML datasets via Spark 4's built-in source.

Beyond the reference's format inventory (SURVEY.md §2.1 stops at
csv/json/excel); added because crawl dumps and enterprise feeds are
routinely XML and Spark 4 folded the former spark-xml package into
core, so the scan is a first-class, splittable, predicate-pushdown
DataSource — no driver-side parsing.

Scale: the XML reader splits files on ``rowTag`` boundaries and
infers/prunes columns like JSON; pass an explicit ``schema`` DDL in
production to skip the inference pass (an extra full read at 100 TB).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.registry import OpContext, P, register


@register(
    "xml.read", kind="source", doc="Read XML file(s) (rowTag-delimited records)",
    params=[
        P("path", required=True, desc="File or directory path (glob allowed)"),
        P("row_tag", required=True, desc="Element name that delimits one record"),
        P("schema", desc="DDL schema string; inferred when omitted"),
        P("attribute_prefix", default="_",
          desc="Prefix for columns read from XML attributes"),
    ],
    example={"path": "data/feed.xml", "row_tag": "item"},
    tags=["file", "xml", "batch"],
)
def xml_read(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    path = config.get("path")
    row_tag = config.get("row_tag")
    reader = (
        ctx.spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("attributePrefix", str(config.get("attribute_prefix", "_")))
    )
    if config.get("schema"):
        reader = reader.schema(config["schema"])
    return reader.load(path)


@register(
    "xml.write", kind="sink", produces_output=False,
    doc="Write a DataFrame as XML part files",
    params=[
        P("path", required=True, desc="Output directory"),
        P("row_tag", default="row", desc="Element name per record"),
        P("root_tag", default="rows", desc="Document root element"),
        P("mode", default="overwrite",
          allowed=("overwrite", "append", "error", "ignore"), desc="Save mode"),
    ],
    example={"path": "out/feed_xml", "row_tag": "item"},
    tags=["file", "xml", "batch"],
)
def xml_write(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> None:
    path = config.get("path")
    (
        inputs[0].write.format("xml")
        .option("rowTag", str(config.get("row_tag", "row")))
        .option("rootTag", str(config.get("root_tag", "rows")))
        .mode(str(config.get("mode", "overwrite")))
        .save(path)
    )
