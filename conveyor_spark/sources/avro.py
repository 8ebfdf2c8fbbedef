"""avro.read / avro.write — Avro datasets.

Beyond the reference's format inventory; added because Avro is the
default wire/lake format for Kafka-adjacent pipelines. Spark nominally
ships Avro as an external module (spark-avro provides the ``avro``
short-name service registration), but the full implementation —
AvroFileFormat, serializer, deserializer — lives inside spark-sql
itself in Spark 4. These ops therefore resolve the format as the
short name when registered and fall back to the fully-qualified
AvroFileFormat class otherwise, so they run on a bare Spark 4
classpath; only when neither resolves do they raise a ConfigError
naming the package.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register

_FQCN = "org.apache.spark.sql.avro.AvroFileFormat"


def _avro_format(spark) -> str:
    """'avro' when the spark-avro service registration is deployed;
    the embedded AvroFileFormat class otherwise; ConfigError naming
    the package when the classpath has neither."""
    try:
        jvm = spark._jvm  # noqa: SLF001 — classic session
        loader = jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
    except Exception:
        # Spark-Connect client (no _jvm): the server resolves the
        # format; the FQCN works on both layouts of Spark 4
        return _FQCN
    try:
        jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.AvroDataSourceV2", False, loader
        )
        return "avro"  # spark-avro module deployed: short name works
    except Exception:
        pass
    try:
        jvm.java.lang.Class.forName(_FQCN, False, loader)
        return _FQCN
    except Exception:
        raise ConfigError(
            "avro ops require Avro support on the classpath — deploy "
            "org.apache.spark:spark-avro_2.13:<spark-version> "
            "(--packages), or run on Spark 4 whose spark-sql embeds "
            "AvroFileFormat"
        ) from None


@register(
    "avro.read", kind="source", doc="Read Avro file(s) into a DataFrame",
    params=[
        P("path", required=True, desc="File or directory path (glob allowed)"),
        P("schema", desc="Avro reader schema (JSON string); file schema when omitted"),
    ],
    example={"path": "data/events_avro"},
    tags=["file", "avro", "batch"],
)
def avro_read(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    path = config.get("path")
    reader = ctx.spark.read.format(_avro_format(ctx.spark))
    if config.get("schema"):
        reader = reader.option("avroSchema", config["schema"])
    return reader.load(path)


@register(
    "avro.write", kind="sink", produces_output=False,
    doc="Write a DataFrame as Avro part files",
    params=[
        P("path", required=True, desc="Output directory"),
        P("mode", default="overwrite",
          allowed=("overwrite", "append", "error", "ignore"), desc="Save mode"),
        P("compression", default="snappy",
          allowed=("snappy", "deflate", "uncompressed", "zstandard"),
          desc="Block compression codec"),
    ],
    example={"path": "out/events_avro"},
    tags=["file", "avro", "batch"],
)
def avro_write(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> None:
    path = config.get("path")
    (
        inputs[0].write.format(_avro_format(ctx.spark))
        .option("compression", str(config.get("compression", "snappy")))
        .mode(str(config.get("mode", "overwrite")))
        .save(path)
    )
