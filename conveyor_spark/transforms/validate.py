"""validate.schema — assertion stage; passes data through untouched.

Reference: src/modules/transforms/validate.rs:99-225 — required
fields, field types (vocab: validate.rs:227-246), non-nullable, date
fields, unique fields; any violation fails the pipeline.

Spark-first: structural checks (required/types) read ``df.schema`` on
the driver for free. Data checks (non-null, unique, date-parse) are
aggregated in ONE job: a single global aggregate computing every
violation count at once — not one count() action per rule.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conveyor_spark.errors import ConfigError, ValidationError
from conveyor_spark.registry import OpContext, P, register

# reference type vocabulary -> acceptable Spark types
_TYPE_VOCAB: dict[str, tuple[type, ...]] = {
    "string": (T.StringType,),
    "int": (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    "int8": (T.ByteType,),
    "int16": (T.ShortType,),
    "int32": (T.IntegerType,),
    "int64": (T.LongType,),
    "float": (T.FloatType, T.DoubleType),
    "float32": (T.FloatType,),
    "float64": (T.DoubleType,),
    "bool": (T.BooleanType,),
    "date": (T.DateType, T.TimestampType),
    "datetime": (T.TimestampType,),
    "timestamp": (T.TimestampType,),
}


@register(
    "validate.schema", kind="transform",
    doc="Assert schema/data constraints; pass-through",
    params=[
        P("mode", default="error", allowed=("error", "filter", "tag"),
          desc="On violation: fail, drop bad rows, or tag them"),
        P("required_fields", "array", default=[], desc="Columns that must exist"),
        P("non_nullable", "array", default=[], desc="Columns that must have no nulls"),
        P("date_fields", "array", default=[], desc="Columns castable to date"),
        P("unique_fields", "array", default=[], desc="Columns with unique values"),
        P("unique", "array", desc="Reference-spec alias for unique_fields"),
        P("field_types", "object", desc="{column: expected_type} map"),
    ],
    example={"required_fields": ["id"], "non_nullable": ["id"], "mode": "error"},
    tags=["validation", "quality"],
)
def validate_schema(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """``mode`` extends the reference's all-or-nothing contract:

    - ``error`` (default): any violation fails the pipeline (parity).
    - ``filter``: QUARANTINE — drop rows violating the row-level
      rules (non_nullable, date_fields); structural checks still
      raise. The dead-letter pattern: route the complement via a
      second validate stage with ``tag``.
    - ``tag``: add ``_valid`` boolean + ``_violations`` array naming
      each failed rule, rows untouched.

    ``unique_fields`` stays error-mode-only: "which duplicate is the
    invalid one" is order-dependent and has no deterministic row-level
    answer in a distributed engine (use dedup.exact to resolve
    duplicates deterministically instead)."""
    df = inputs[0]
    fields = {f.name: f.dataType for f in df.schema.fields}
    if "unique" in config and "unique_fields" not in config:
        # `unique` is the reference's documented key
        config = {**config, "unique_fields": config["unique"]}
    mode = config.get("mode", "error")
    if mode != "error" and config.get("unique_fields"):
        raise ConfigError(
            "validate.schema: unique_fields requires mode=error (row-level "
            "duplicate blame is order-dependent; use dedup.exact instead)"
        )

    for name in config.get("required_fields", []):
        if name not in fields:
            raise ValidationError(f"validate.schema: required field {name!r} missing")

    for name, tname in (config.get("field_types") or {}).items():
        if name not in fields:
            raise ValidationError(f"validate.schema: typed field {name!r} missing")
        expected = _TYPE_VOCAB.get(str(tname).lower())
        if expected is None:
            raise ConfigError(f"validate.schema: unknown type {tname!r}")
        if not isinstance(fields[name], expected):
            raise ValidationError(
                f"validate.schema: field {name!r} is {fields[name].simpleString()}, expected {tname}"
            )

    if mode in ("filter", "tag"):
        checks: list = []
        for name in config.get("non_nullable", []):
            if name not in fields:
                raise ValidationError(f"validate.schema: non_nullable field {name!r} missing")
            checks.append(F.when(F.col(name).isNull(), F.lit(f"null:{name}")))
        for name in config.get("date_fields", []):
            if name not in fields:
                raise ValidationError(f"validate.schema: date field {name!r} missing")
            if isinstance(fields[name], (T.DateType, T.TimestampType)):
                continue
            parsed = F.coalesce(
                F.try_to_timestamp(F.col(name)),
                F.expr(f"try_cast(`{name}` AS DATE)").cast("timestamp"),
            )
            checks.append(
                F.when(F.col(name).isNotNull() & parsed.isNull(), F.lit(f"date:{name}"))
            )
        viol = (
            F.filter(F.array(*checks), lambda x: x.isNotNull())
            if checks
            else F.array().cast("array<string>")
        )
        if mode == "filter":
            return df.filter(F.size(viol) == 0)
        return df.withColumn("_violations", viol).withColumn(
            "_valid", F.size(F.col("_violations")) == 0
        )

    # One aggregate job for all data-level rules.
    aggs: list = []
    labels: list[str] = []
    for name in config.get("non_nullable", []):
        if name not in fields:
            raise ValidationError(f"validate.schema: non_nullable field {name!r} missing")
        aggs.append(F.sum(F.col(name).isNull().cast("long")))
        labels.append(f"null values in {name!r}")
    for name in config.get("date_fields", []):
        if name not in fields:
            raise ValidationError(f"validate.schema: date field {name!r} missing")
        if isinstance(fields[name], (T.DateType, T.TimestampType)):
            continue  # already a temporal type
        # try_* variants: ANSI mode (Spark 4 default) makes to_date
        # throw on malformed input; validation wants a null + count.
        parsed = F.coalesce(
            F.try_to_timestamp(F.col(name)),
            F.expr(f"try_cast(`{name}` AS DATE)").cast("timestamp"),
        )
        aggs.append(F.sum((F.col(name).isNotNull() & parsed.isNull()).cast("long")))
        labels.append(f"unparseable dates in {name!r}")
    for name in config.get("unique_fields", []):
        if name not in fields:
            raise ValidationError(f"validate.schema: unique field {name!r} missing")
        aggs.append(F.count(F.col(name)) - F.countDistinct(F.col(name)))
        labels.append(f"duplicate values in {name!r}")

    if aggs:
        counts = df.agg(*[a.alias(f"v{i}") for i, a in enumerate(aggs)]).first()
        problems = [
            f"{label}: {counts[i]}" for i, label in enumerate(labels) if (counts[i] or 0) > 0
        ]
        if problems:
            raise ValidationError("validate.schema failed: " + "; ".join(problems))
    return df
