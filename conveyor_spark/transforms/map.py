"""map.apply — derived column from an expression.

Reference: src/modules/transforms/map.rs:105-244 — a toy parser
supporting exactly one of ``col OP const`` / ``col OP col`` for
``+ - * /`` (operands coerced to Float64), bare constants, or a
copy-column fallback.

Spark-first: ``F.expr`` gives the full Spark SQL expression language,
a strict superset of the reference grammar. We reproduce the
reference's float coercion for its 4-operator arithmetic grammar
(detected syntactically) so parity tests agree on result dtype; any
richer expression is evaluated as-is.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.registry import OpContext, P, register

# `identifier OP (number|identifier)` with a single arithmetic operator —
# the reference grammar (map.rs:129-227).
_SIMPLE_ARITH = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*([*+\-/])\s*([A-Za-z_][A-Za-z0-9_]*|[0-9]+(?:\.[0-9]+)?)\s*$"
)


@register(
    "map.apply", kind="transform", streaming_capable=True,
    doc="Add/replace a derived column",
    params=[
        P("expression", required=True, desc="SQL expression (full Spark SQL surface)"),
        P("output_column", required=True, desc="Column to create or replace"),
    ],
    example={"expression": "price * (1 - discount)", "output_column": "net"},
    tags=["projection", "expression"],
)
def map_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    expression = config.get("expression")
    output_column = config.get("output_column")
    m = _SIMPLE_ARITH.match(expression)
    if m:
        left, op, right = m.groups()
        lcol = F.col(left).cast("double")
        rex = (
            F.col(right).cast("double")
            if re.match(r"^[A-Za-z_]", right)
            else F.lit(float(right))
        )
        col = {"+": lcol + rex, "-": lcol - rex, "*": lcol * rex, "/": lcol / rex}[op]
    else:
        col = F.expr(expression)
    return df.withColumn(output_column, col)
