"""The engine's query suite: every operator exercised as a
(spark, sf_dir) -> DataFrame callable with a matching DuckDB oracle.

This is both the driver's correctness surface (__spark_entry__
re-exports it) and living documentation of how operators compose.

Cross-engine determinism rules used throughout (hard-won):
- double SUMs are order-dependent -> sum exact DECIMALs, then cast
  the result to double (bit-identical in Spark and DuckDB; all
  monetary test columns are 2-decimal).
- never round plain ratio doubles (Spark rounds the shortest decimal
  repr, DuckDB the binary value — they disagree at boundaries like
  0.285); integer-division doubles are already bit-identical.
- rounding IS safe for accumulated float noise (cosine, after
  casting float32 -> double: error ~1e-14, round 6 is stable).
- count()/row_number() are BIGINT/INT in Spark; DuckDB needs ::BIGINT
  / ::INT casts (its sum(int) is HUGEINT, floor() is DECIMAL).
- TIMESTAMP(NANOS) parquet: Spark reads as long (legacy conf) and we
  truncate ns -> us, exactly like DuckDB's TIMESTAMP cast.
"""

from __future__ import annotations
import math
import os

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conveyor_spark.registry import OpContext, get_function

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _read_events_stream(spark, sf_dir: str, schema):
    """File-stream source for the events table, layout-agnostic.

    A single-file table streams from sf_dir with a leaf glob filter
    (the file source needs a directory to watch); a DIRECTORY-shaped
    table — the multi-file layout every real corpus has — streams
    from the table directory itself. The two cannot share one idiom:
    pathGlobFilter matches LEAF file names, so pointing the
    single-file filter at a directory-shaped table silently streams
    ZERO rows (found by the round-11 multi-file layout invariance
    run, where all seven streaming queries returned empty)."""
    from conveyor_spark.streaming.ops import read_file_stream

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        return read_file_stream(spark, path, schema, "parquet")
    return read_file_stream(
        spark, sf_dir, schema, "parquet",
        options={"pathGlobFilter": "events.parquet"},
    )


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _ctx(spark: SparkSession) -> OpContext:
    # Defensive: the driver may hand us its own session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Spark 4.1 infers naive parquet timestamps as TIMESTAMP_NTZ by
    # default; force LTZ (session tz UTC) so watermarks/unix-time
    # casts work and semantics match DuckDB's naive-as-UTC reads.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return OpContext(spark=spark)


def _op(name: str, ctx: OpContext, inputs: list[DataFrame], **config: Any) -> DataFrame:
    return get_function(name).fn(ctx, inputs, config)


# (sf_dir, table) -> (session, DataFrame). A DataFrame is an immutable
# plan; reusing it skips the spark.read.parquet footer/schema pass,
# which is ~0.1 s of DRIVER time per call — the suite loads tables
# hundreds of times, so this is tens of seconds of bench wall-clock.
# Keyed on the session too: a new session must not serve plans bound
# to a stopped one (tests spin up their own sessions).
_TABLE_CACHE: dict[tuple[str, str], tuple[SparkSession, DataFrame]] = {}

# (sf_dir, table) -> (session, on-disk StructType). The streaming
# queries need the RAW schema (ts stays bigint there; load_table
# rewrites it), and re-reading parquet footers per invocation was
# ~0.1 s of driver time x 6 queries x bench repeats.
_RAW_SCHEMA_CACHE: dict[tuple[str, str], tuple[SparkSession, object]] = {}


def raw_schema(spark: SparkSession, sf_dir: str, name: str):
    key = (sf_dir, name)
    hit = _RAW_SCHEMA_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    _RAW_SCHEMA_CACHE[key] = (spark, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a test table; events.ts (ns parquet) -> microsecond
    timestamp by truncation (matches DuckDB's TIMESTAMP read)."""
    cached = _TABLE_CACHE.get((sf_dir, name))
    if cached is not None and cached[0] is spark:
        return cached[1]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Belt-and-braces for sessions where the NTZ conf can't apply
    # (e.g. a cached reader): NTZ -> LTZ is value-preserving under a
    # UTC session timezone.
    for field in df.schema.fields:
        if field.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    _TABLE_CACHE[(sf_dir, name)] = (spark, df)
    return df


# ---------------------------------------------------------------------------
# Relational core (reference §2.3-2.5)
# ---------------------------------------------------------------------------

_Q01_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,2)) * CAST(1.0 + l_tax AS DECIMAL(8,2))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("q01_pricing_summary", _Q01_ORACLE)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter + derived decimal columns + groupby +
    post-aggregation arithmetic (ops: filter.apply, map.apply,
    groupby.apply, select.apply)."""
    ctx = _ctx(spark)
    li = load_table(spark, sf_dir, "lineitem")
    df = _op("filter.apply", ctx, [li], expr="l_shipdate <= timestamp'1998-09-01 00:00:00'")
    df = _op("map.apply", ctx, [df], expression="CAST(l_quantity AS DECIMAL(18,2))", output_column="qdec")
    df = _op("map.apply", ctx, [df], expression="CAST(l_extendedprice AS DECIMAL(18,2))", output_column="pdec")
    df = _op(
        "map.apply", ctx, [df],
        expression="CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,2))",
        output_column="dpdec",
    )
    df = _op(
        "map.apply", ctx, [df],
        expression="CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,2)) * CAST(1.0 + l_tax AS DECIMAL(8,2))",
        output_column="chdec",
    )
    df = _op(
        "groupby.apply", ctx, [df],
        by=["l_returnflag", "l_linestatus"],
        aggregations=[
            {"column": "qdec", "operation": "sum", "output_column": "sum_qdec"},
            {"column": "pdec", "operation": "sum", "output_column": "sum_pdec"},
            {"column": "dpdec", "operation": "sum", "output_column": "sum_dpdec"},
            {"column": "chdec", "operation": "sum", "output_column": "sum_chdec"},
            {"column": "l_orderkey", "operation": "count", "output_column": "count_order"},
        ],
    )
    for out, src in [
        ("sum_qty", "sum_qdec"), ("sum_base_price", "sum_pdec"),
        ("sum_disc_price", "sum_dpdec"), ("sum_charge", "sum_chdec"),
    ]:
        df = _op("map.apply", ctx, [df], expression=f"CAST({src} AS DOUBLE)", output_column=out)
    df = _op("map.apply", ctx, [df], expression="CAST(sum_qdec AS DOUBLE) / count_order", output_column="avg_qty")
    df = _op("map.apply", ctx, [df], expression="CAST(sum_pdec AS DOUBLE) / count_order", output_column="avg_price")
    return _op(
        "select.apply", ctx, [df],
        columns=["l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
                 "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "count_order"],
    )


@query(
    "q02_filter_in",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem WHERE l_returnflag IN ('A', 'R') AND l_quantity >= 30
    """,
)
def q02_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter.apply `in` + `>=` (reference filter.rs:114-177)."""
    ctx = _ctx(spark)
    li = load_table(spark, sf_dir, "lineitem")
    df = _op("filter.apply", ctx, [li], column="l_returnflag", operator="in", value=["A", "R"])
    df = _op("filter.apply", ctx, [df], column="l_quantity", operator=">=", value=30)
    return _op("select.apply", ctx, [df], columns=["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"])


@query(
    "q03_filter_contains",
    "SELECT p_partkey, p_name, p_type FROM part WHERE p_type LIKE '%PRO%'",
)
def q03_filter_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter.apply `contains` (substring; reference filter.rs:139-151)."""
    ctx = _ctx(spark)
    part = load_table(spark, sf_dir, "part")
    df = _op("filter.apply", ctx, [part], column="p_type", operator="contains", value="PRO")
    return _op("select.apply", ctx, [df], columns=["p_partkey", "p_name", "p_type"])


@query("q04_select_project", "SELECT c_custkey, c_name, c_mktsegment FROM customer")
def q04_select_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select.apply projection — column pruning reaches the scan."""
    ctx = _ctx(spark)
    return _op("select.apply", ctx, [load_table(spark, sf_dir, "customer")],
               columns=["c_custkey", "c_name", "c_mktsegment"])


@query(
    "q05_map_derived",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice * 1.1 AS boosted
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def q05_map_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map.apply with the reference's `col * const` grammar (float
    coercion — map.rs:129-227); double mult is bit-identical."""
    ctx = _ctx(spark)
    li = load_table(spark, sf_dir, "lineitem")
    df = _op("filter.apply", ctx, [li], column="l_linenumber", operator="==", value=1)
    df = _op("map.apply", ctx, [df], expression="l_extendedprice * 1.1", output_column="boosted")
    return _op("select.apply", ctx, [df], columns=["l_orderkey", "l_linenumber", "boosted"])


@query(
    "q06_sort_topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def q06_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort.apply + limit -> TakeOrderedAndProject (no full sort)."""
    ctx = _ctx(spark)
    o = load_table(spark, sf_dir, "orders")
    df = _op("select.apply", ctx, [o], columns=["o_orderkey", "o_custkey", "o_totalprice"])
    return _op("sort.apply", ctx, [df], columns=["o_totalprice", "o_orderkey"],
               descending=[True, False], limit=10)


@query("q07_distinct_any", "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer")
def q07_distinct_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct.apply keep=any (reference distinct.rs:74-121)."""
    ctx = _ctx(spark)
    c = load_table(spark, sf_dir, "customer")
    df = _op("select.apply", ctx, [c], columns=["c_nationkey", "c_mktsegment"])
    return _op("distinct.apply", ctx, [df])


@query(
    "q08_distinct_keep_first",
    """
    SELECT l_orderkey, l_partkey, l_linenumber FROM (
      SELECT l_orderkey, l_partkey, l_linenumber,
             row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn
      FROM lineitem) WHERE rn = 1
    """,
)
def q08_distinct_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct.apply keep=first with explicit order (distributed
    data has no 'physical first' — see distinct.py). The order covers
    every projected column: l_linenumber alone ties in this data, and
    a tie-broken winner must be deterministic for the oracle."""
    ctx = _ctx(spark)
    li = load_table(spark, sf_dir, "lineitem")
    df = _op("select.apply", ctx, [li], columns=["l_orderkey", "l_partkey", "l_linenumber"])
    return _op("distinct.apply", ctx, [df], columns=["l_orderkey"], keep="first",
               order_by=["l_linenumber", "l_partkey"])


@query(
    "q09_groupby_stats",
    """
    WITH g AS (
      SELECT c_nationkey,
             SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_dec,
             SUM(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS sum_sq_dec,
             COUNT(c_acctbal) AS n_customers,
             MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
             MEDIAN(c_acctbal) AS median_bal,
             arg_min(c_acctbal, c_custkey) AS first_bal,
             arg_max(c_acctbal, c_custkey) AS last_bal
      FROM customer GROUP BY c_nationkey)
    SELECT c_nationkey, CAST(sum_dec AS DOUBLE) AS sum_bal,
           CAST(sum_dec AS DOUBLE) / n_customers AS avg_bal,
           n_customers, min_bal, max_bal, median_bal, first_bal, last_bal,
           (CAST(sum_sq_dec AS DOUBLE) - CAST(sum_dec AS DOUBLE) * CAST(sum_dec AS DOUBLE) / n_customers) / (n_customers - 1) AS var_bal
    FROM g
    """,
)
def q09_groupby_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby.apply exercising sum/count/min/max/median + ordered
    first/last (min_by/max_by) + a deterministic variance (decimal
    moments; F.var_samp is tested in pytest — its float accumulation
    order isn't cross-engine stable)."""
    ctx = _ctx(spark)
    c = load_table(spark, sf_dir, "customer")
    df = _op("map.apply", ctx, [c], expression="CAST(c_acctbal AS DECIMAL(18,2))", output_column="bdec")
    df = _op("map.apply", ctx, [df],
             expression="CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))",
             output_column="b2dec")
    df = _op(
        "groupby.apply", ctx, [df],
        by="c_nationkey",
        aggregations=[
            {"column": "bdec", "operation": "sum", "output_column": "sum_dec"},
            {"column": "b2dec", "operation": "sum", "output_column": "sum_sq_dec"},
            {"column": "c_acctbal", "operation": "count", "output_column": "n_customers"},
            {"column": "c_acctbal", "operation": "min", "output_column": "min_bal"},
            {"column": "c_acctbal", "operation": "max", "output_column": "max_bal"},
            {"column": "c_acctbal", "operation": "median", "output_column": "median_bal"},
            {"column": "c_acctbal", "operation": "first", "order_by": "c_custkey", "output_column": "first_bal"},
            {"column": "c_acctbal", "operation": "last", "order_by": "c_custkey", "output_column": "last_bal"},
        ],
    )
    df = _op("map.apply", ctx, [df], expression="CAST(sum_dec AS DOUBLE)", output_column="sum_bal")
    df = _op("map.apply", ctx, [df], expression="CAST(sum_dec AS DOUBLE) / n_customers", output_column="avg_bal")
    df = _op(
        "map.apply", ctx, [df],
        expression="(CAST(sum_sq_dec AS DOUBLE) - CAST(sum_dec AS DOUBLE) * CAST(sum_dec AS DOUBLE) / n_customers) / (n_customers - 1)",
        output_column="var_bal",
    )
    return _op("select.apply", ctx, [df],
               columns=["c_nationkey", "sum_bal", "avg_bal", "n_customers", "min_bal",
                        "max_bal", "median_bal", "first_bal", "last_bal", "var_bal"])


@query(
    "q10_reduce_sum",
    "SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty FROM lineitem",
)
def q10_reduce_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reduce.apply global aggregate (reference reduce.rs:91-136)."""
    ctx = _ctx(spark)
    li = load_table(spark, sf_dir, "lineitem")
    df = _op("map.apply", ctx, [li], expression="CAST(l_quantity AS DECIMAL(18,2))", output_column="qdec")
    df = _op("reduce.apply", ctx, [df], column="qdec", operation="sum", output_column="tdec")
    df = _op("map.apply", ctx, [df], expression="CAST(tdec AS DOUBLE)", output_column="total_qty")
    return _op("select.apply", ctx, [df], columns=["total_qty"])


@query(
    "q11_json_extract",
    """
    SELECT event_id, json_extract_string(props, '$.k') AS k_value FROM events
    """,
)
def q11_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json.extract dot-path -> string column (json_extract.rs:69-132)."""
    ctx = _ctx(spark)
    ev = load_table(spark, sf_dir, "events")
    df = _op("json.extract", ctx, [ev], column="props", path="k", output_column="k_value")
    return _op("select.apply", ctx, [df], columns=["event_id", "k_value"])


@query(
    "q12_validate_passthrough",
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders",
)
def q12_validate_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """validate.schema passes data through when constraints hold
    (validate.rs:99-225)."""
    ctx = _ctx(spark)
    o = load_table(spark, sf_dir, "orders")
    df = _op(
        "validate.schema", ctx, [o],
        required_fields=["o_orderkey", "o_custkey", "o_totalprice"],
        field_types={"o_orderkey": "int64", "o_totalprice": "float64", "o_orderstatus": "string"},
        non_nullable=["o_orderkey", "o_custkey"],
        unique_fields=["o_orderkey"],
        date_fields=["o_orderdate"],
    )
    return _op("select.apply", ctx, [df],
               columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"])


@query(
    "q13_chunk_batches",
    # CTE form: DuckDB can't GROUP BY a window function directly
    """
    WITH seq AS (
      SELECT (row_number() OVER (ORDER BY event_id) - 1) // 500 AS chunk_id FROM events)
    SELECT chunk_id, COUNT(*) AS n_records FROM seq GROUP BY chunk_id
    """,
)
def q13_chunk_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chunk.apply: every-N-rows batching (chunk.rs:62-113); emits
    per-chunk record counts (array payload itself tested in pytest)."""
    ctx = _ctx(spark)
    ev = load_table(spark, sf_dir, "events")
    df = _op("chunk.apply", ctx, [ev], batch_size=500, order_by="event_id")
    df = _op("map.apply", ctx, [df], expression="CAST(size(records) AS BIGINT)", output_column="n_records")
    return _op("select.apply", ctx, [df], columns=["chunk_id", "n_records"])


@query(
    "q14_join_customer_orders",
    """
    SELECT c.c_custkey, c.c_name, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q14_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join.apply (broadcast dim) + groupby (extension; reference has
    no joins — README.md:326 roadmap)."""
    ctx = _ctx(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    o = _op("map.apply", ctx, [o], expression="CAST(o_totalprice AS DECIMAL(18,2))", output_column="tdec")
    o = _op("map.apply", ctx, [o], expression="o_custkey", output_column="c_custkey")
    j = _op("join.apply", ctx, [o, c], on="c_custkey", how="inner", broadcast=True)
    g = _op(
        "groupby.apply", ctx, [j], by=["c_custkey", "c_name"],
        aggregations=[
            {"column": "o_orderkey", "operation": "count", "output_column": "n_orders"},
            {"column": "tdec", "operation": "sum", "output_column": "sum_dec"},
        ],
    )
    g = _op("map.apply", ctx, [g], expression="CAST(sum_dec AS DOUBLE)", output_column="total_spent")
    return _op("select.apply", ctx, [g], columns=["c_custkey", "c_name", "n_orders", "total_spent"])


@query(
    "q15_join_shipping_topk",
    """
    SELECT o.o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l.l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey
    ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """,
)
def q15_join_shipping_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, derived revenue, group, top-k."""
    ctx = _ctx(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = _op("filter.apply", ctx, [c], column="c_mktsegment", operator="==", value="BUILDING")
    c = _op("select.apply", ctx, [c], columns=["c_custkey"])
    o = _op("map.apply", ctx, [o], expression="o_custkey", output_column="c_custkey")
    co = _op("join.apply", ctx, [o, c], on="c_custkey", how="inner", broadcast=True)
    co = _op("map.apply", ctx, [co], expression="o_orderkey", output_column="l_orderkey")
    j = _op("join.apply", ctx, [li, co], on="l_orderkey", how="inner")
    j = _op(
        "map.apply", ctx, [j],
        expression="CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,2))",
        output_column="rdec",
    )
    g = _op(
        "groupby.apply", ctx, [j], by="l_orderkey",
        aggregations=[
            {"column": "rdec", "operation": "sum", "output_column": "sum_dec"},
            {"column": "l_linenumber", "operation": "count", "output_column": "n_items"},
        ],
    )
    g = _op("map.apply", ctx, [g], expression="CAST(sum_dec AS DOUBLE)", output_column="revenue")
    g = _op("map.apply", ctx, [g], expression="l_orderkey", output_column="o_orderkey")
    g = _op("select.apply", ctx, [g], columns=["o_orderkey", "revenue", "n_items"])
    return _op("sort.apply", ctx, [g], columns=["revenue", "o_orderkey"],
               descending=[True, False], limit=10)


@query(
    "q16_join_region_revenue",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l.l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q16_join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join with broadcast dims — the fact table
    (lineitem) is never shuffled for the dim joins."""
    ctx = _ctx(spark)
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    r = _op("filter.apply", ctx, [r], column="r_name", operator="==", value="ASIA")
    n = _op("map.apply", ctx, [n], expression="n_regionkey", output_column="r_regionkey")
    nr = _op("join.apply", ctx, [n, r], on="r_regionkey", how="inner", broadcast=True)
    c = _op("map.apply", ctx, [c], expression="c_nationkey", output_column="n_nationkey")
    cn = _op("join.apply", ctx, [c, nr], on="n_nationkey", how="inner", broadcast=True)
    o = _op("map.apply", ctx, [o], expression="o_custkey", output_column="c_custkey")
    oc = _op("join.apply", ctx, [o, cn], on="c_custkey", how="inner", broadcast=True)
    oc = _op("map.apply", ctx, [oc], expression="o_orderkey", output_column="l_orderkey")
    j = _op("join.apply", ctx, [li, oc], on="l_orderkey", how="inner")
    j = _op(
        "map.apply", ctx, [j],
        expression="CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,2))",
        output_column="rdec",
    )
    g = _op("groupby.apply", ctx, [j], by="n_name",
            aggregations=[{"column": "rdec", "operation": "sum", "output_column": "sum_dec"}])
    g = _op("map.apply", ctx, [g], expression="CAST(sum_dec AS DOUBLE)", output_column="revenue")
    return _op("select.apply", ctx, [g], columns=["n_name", "revenue"])


@query(
    "q17_union_nation_keys",
    """
    SELECT nationkey, COUNT(*) AS n_accounts FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT s_nationkey AS nationkey FROM supplier)
    GROUP BY nationkey
    """,
)
def q17_union_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union.apply (unionByName) + groupby count."""
    ctx = _ctx(spark)
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    c = _op("map.apply", ctx, [c], expression="c_nationkey", output_column="nationkey")
    c = _op("select.apply", ctx, [c], columns=["nationkey"])
    s = _op("map.apply", ctx, [s], expression="s_nationkey", output_column="nationkey")
    s = _op("select.apply", ctx, [s], columns=["nationkey"])
    u = _op("union.apply", ctx, [c, s])
    return _op("groupby.apply", ctx, [u], by="nationkey",
               aggregations=[{"column": "nationkey", "operation": "count", "output_column": "n_accounts"}])


@query(
    "q18_intersect_keys",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def q18_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ctx = _ctx(spark)
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    c = _op("map.apply", ctx, [c], expression="c_nationkey", output_column="nationkey")
    c = _op("select.apply", ctx, [c], columns=["nationkey"])
    s = _op("map.apply", ctx, [s], expression="s_nationkey", output_column="nationkey")
    s = _op("select.apply", ctx, [s], columns=["nationkey"])
    return _op("intersect.apply", ctx, [c, s])


@query(
    "q19_except_keys",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey FROM orders
    """,
)
def q19_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """except.apply — customers who never ordered."""
    ctx = _ctx(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c = _op("select.apply", ctx, [c], columns=["c_custkey"])
    o = _op("map.apply", ctx, [o], expression="o_custkey", output_column="c_custkey")
    o = _op("select.apply", ctx, [o], columns=["c_custkey"])
    return _op("except.apply", ctx, [c, o], all=False)


@query(
    "q20_window_rank",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def q20_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window.function row_number per customer (Spark-freebie
    extension; reference has no window functions)."""
    ctx = _ctx(spark)
    o = load_table(spark, sf_dir, "orders")
    df = _op("select.apply", ctx, [o], columns=["o_custkey", "o_orderkey", "o_totalprice"])
    df = _op("window.function", ctx, [df], function="row_number", output_column="rn",
             partition_by="o_custkey", order_by=["o_totalprice", "o_orderkey"],
             descending=[True, False])
    return _op("filter.apply", ctx, [df], column="rn", operator="<=", value=3)


@query(
    "q21_window_lag",
    """
    SELECT event_id, user_id, value,
           lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
    FROM events
    """,
)
def q21_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ctx = _ctx(spark)
    ev = load_table(spark, sf_dir, "events")
    df = _op("window.function", ctx, [ev], function="lag", column="value",
             output_column="prev_value", partition_by="user_id", order_by=["ts", "event_id"])
    return _op("select.apply", ctx, [df], columns=["event_id", "user_id", "value", "prev_value"])


@query(
    "q22_pivot_status",
    """
    SELECT o_orderpriority,
           COUNT(o_orderkey) FILTER (WHERE o_orderstatus = 'F') AS "F",
           COUNT(o_orderkey) FILTER (WHERE o_orderstatus = 'O') AS "O",
           COUNT(o_orderkey) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
)
def q22_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot.apply with pinned values (no extra distinct-scan job)."""
    ctx = _ctx(spark)
    o = load_table(spark, sf_dir, "orders")
    df = _op("pivot.apply", ctx, [o], by="o_orderpriority", pivot="o_orderstatus",
             values=["F", "O", "P"],
             agg={"column": "o_orderkey", "operation": "count"})
    for c in ["F", "O", "P"]:
        df = _op("map.apply", ctx, [df], expression=f"COALESCE(`{c}`, CAST(0 AS BIGINT))", output_column=c)
    return df


@query(
    "q23_window_tumbling_hour",
    """
    SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY date_trunc('hour', ts)
    """,
)
def q23_window_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window.apply time-based tumbling (Spark F.window; the
    reference only has count windows — streaming.rs:75-135)."""
    ctx = _ctx(spark)
    ev = load_table(spark, sf_dir, "events")
    df = _op("map.apply", ctx, [ev], expression="CAST(value AS DECIMAL(18,2))", output_column="vdec")
    df = _op("window.apply", ctx, [df], type="tumbling", time_column="ts", size=3600)
    g = _op(
        "groupby.apply", ctx, [df], by="window_start",
        aggregations=[
            {"column": "event_id", "operation": "count", "output_column": "n_events"},
            {"column": "vdec", "operation": "sum", "output_column": "sum_dec"},
        ],
    )
    g = _op("map.apply", ctx, [g], expression="CAST(sum_dec AS DOUBLE)", output_column="sum_value")
    return _op("select.apply", ctx, [g], columns=["window_start", "n_events", "sum_value"])


@query(
    "q24_window_session",
    """
    WITH ord AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    flag AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) >= 1800 THEN 1 ELSE 0 END AS nf
      FROM ord),
    sess AS (
      SELECT user_id, ts,
             SUM(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      FROM flag)
    SELECT user_id, MIN(ts) AS window_start, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def q24_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window.apply session (gap 30 min per user) + per-session count
    (sessionization: lag + running sum — see transforms/window.py)."""
    ctx = _ctx(spark)
    ev = load_table(spark, sf_dir, "events")
    df = _op("window.apply", ctx, [ev], type="session", time_column="ts", gap=1800,
             partition_by="user_id", order_by="event_id")
    g = _op(
        "groupby.apply", ctx, [df], by=["user_id", "window_start"],
        aggregations=[{"column": "event_id", "operation": "count", "output_column": "n_events"}],
    )
    return _op("select.apply", ctx, [g], columns=["user_id", "window_start", "n_events"])


@query(
    "q25_aggregate_stream",
    "SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type",
)
def q25_aggregate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregate.stream batch path (aggregate_stream.rs:28-178)."""
    ctx = _ctx(spark)
    ev = load_table(spark, sf_dir, "events")
    return _op("aggregate.stream", ctx, [ev], operation="count", group_by="event_type",
               output_column="n_events")


# ---------------------------------------------------------------------------
# Training-data pipeline ops (dedup / text / similarity / multimodal)
# ---------------------------------------------------------------------------

# Shared DuckDB fragments mirroring datapipe expression builders.
_SQL_TOKENS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"
_SQL_TOKENS_D = f"list_distinct({_SQL_TOKENS})"
_SQL_SHINGLE3 = (
    "list_distinct(list_transform("
    "range(0, greatest(len(tk) - 3, 0) + 1), "
    "i -> array_to_string(list_slice(tk, i + 1, i + 3), ' ')))"
)


def _sql_hash(expr: str) -> str:
    # the ONE portable-hash recipe — hashing.py owns it; every inline
    # copy is a drift risk for the oracle contract
    from conveyor_spark.datapipe.hashing import md5_int_sql

    return md5_int_sql(expr)


@query(
    "q26_dedup_exact",
    """
    WITH fp AS (SELECT doc_id, md5(CAST(text AS VARCHAR)) AS f FROM documents),
    keep AS (SELECT f, MIN(doc_id) AS doc_id FROM fp GROUP BY f)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN keep k ON d.doc_id = k.doc_id
    """,
)
def q26_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.exact: content-hash dedup, min-id winner (deterministic)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("dedup.exact", ctx, [d], columns="text", id_column="doc_id")
    return _op("select.apply", ctx, [out], columns=["doc_id", "lang", "source", "n_chars"])


@query(
    "q27_text_fingerprint",
    r"""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def q27_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("text.fingerprint", ctx, [d], column="text")
    return _op("select.apply", ctx, [out], columns=["doc_id", "fingerprint"])


def _minhash_oracle(
    num_hashes: int = 16, bands: int = 4, pair_where: str = "", star: bool = False
) -> str:
    from conveyor_spark.datapipe.dedup import MINHASH_P, minhash_params

    r = num_hashes // bands
    params = [minhash_params(i) for i in range(num_hashes)]
    hash_cols = ",\n             ".join(
        f"list_min(list_transform(bh, v -> ({a} * v + {b}) % {MINHASH_P})) AS h{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS sig FROM sig".format(
            b=b, cols=", ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    if star:
        tail = """
    , hubs AS (SELECT band, sig, MIN(doc_id) AS hub FROM bands GROUP BY band, sig)
    SELECT h.hub AS id_a, b.doc_id AS id_b, COUNT(*) AS n_bands
    FROM bands b JOIN hubs h ON b.band = h.band AND b.sig = h.sig AND b.doc_id <> h.hub
    GROUP BY h.hub, b.doc_id
    """
    else:
        tail = f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_bands
    FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    {pair_where}
    GROUP BY a.doc_id, b.doc_id
    """
    return f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLE3} AS sh FROM t),
    bh AS (SELECT doc_id,
             list_transform(sh, x -> (('0x' || substr(md5(x), 1, 7))::BIGINT)) AS bh
           FROM sh),
    sig AS (SELECT doc_id,
             {hash_cols}
            FROM bh),
    bands AS (
      {band_selects}
    )
    {tail}
    """


@query("q28_dedup_minhash", _minhash_oracle())
def q28_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.minhash: MinHash(16) + LSH(4 bands) candidate pairs over
    word-3-gram shingles — the 100 TB near-dup workhorse."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    return _op("dedup.minhash", ctx, [d], column="text", id_column="doc_id",
               num_hashes=16, bands=4, shingle="word", ngram=3)


def _simhash_oracle(bits: int = 32) -> str:
    terms = " + ".join(
        f"(((list_sum(list_transform(h, v -> (v >> {j}) & 1)) * 2 > len(h))::BIGINT) << {j})"
        for j in range(bits)
    )
    return f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS_D} AS tk FROM documents),
    hs AS (SELECT doc_id, list_transform(tk, x -> {_sql_hash('x')}) AS h FROM t)
    SELECT doc_id, ({terms}) AS simhash FROM hs
    """


@query("q29_dedup_simhash", _simhash_oracle())
def q29_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.simhash: 32-bit sign-vote fingerprint per document."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("dedup.simhash", ctx, [d], column="text", bits=32, shingle="token")
    return _op("select.apply", ctx, [out], columns=["doc_id", "simhash"])


@query(
    "q30_dedup_jaccard",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    s AS (SELECT doc_id, {_SQL_SHINGLE3} AS sh FROM t),
    sized AS (SELECT doc_id, len(sh) AS sz, sh FROM s),
    p AS (SELECT doc_id, sz, unnest(sh) AS tok FROM sized)
    SELECT id_a, id_b, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*)::DOUBLE / (any_value(a.sz) + any_value(b.sz) - COUNT(*)) AS jaccard
      FROM p a JOIN p b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    WHERE jaccard >= 0.5
    """,
)
def q30_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.ngram_jaccard EXACT mode (opt-in): pairwise Jaccard
    (word 3-grams) via unpruned posting-list self-join; finds the
    planted near-duplicates. Default DF-pruned mode is q51; the
    minhash-then-verify pipeline is q52."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    return _op("dedup.ngram_jaccard", ctx, [d], column="text", id_column="doc_id",
               shingle="word", ngram=3, threshold=0.5, exact=True)


from conveyor_spark.datapipe.text import DEFAULT_STOPWORDS, STOPWORDS

_STOP_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in STOPWORDS.items()
}

# generate the language-ID CASE from STOPWORDS exactly like the op
# does (sorted languages, first-max wins) — a hardcoded 4-way CASE
# would silently break when a language is added
_LANGS = sorted(_STOP_SQL)
_HITS = ",\n    ".join(
    f"len(list_intersect(tk, {_STOP_SQL[l]})) AS h_{l}" for l in _LANGS
)
_GREATEST = "greatest(" + ", ".join(f"h_{l}" for l in _LANGS) + ")"
_LANG_CASE = (
    f"CASE WHEN {_GREATEST} = 0 THEN 'und'\n       "
    + "\n       ".join(
        f"WHEN h_{l} = {_GREATEST} THEN '{l}'" for l in _LANGS[:-1]
    )
    + f"\n       ELSE '{_LANGS[-1]}' END"
)

_LANGID_ORACLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS_D} AS tk FROM documents),
hits AS (SELECT doc_id,
    {_HITS}
  FROM t)
SELECT doc_id,
  {_LANG_CASE} AS pred_lang
FROM hits
"""


@query("q31_text_langid", _LANGID_ORACLE)
def q31_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.language_id: stopword-overlap argmax (sorted-language
    tie-break, 'und' when no hits)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("text.language_id", ctx, [d], column="text")
    return _op("select.apply", ctx, [out], columns=["doc_id", "pred_lang"])


_N_STOP = len(DEFAULT_STOPWORDS)  # the op's divisor — keep in lockstep

_QUALITY_ORACLE = f"""
WITH b AS (
  SELECT doc_id, text,
         length(text) AS nc,
         len({_SQL_TOKENS})::INT AS n_tokens,
         len(list_intersect({_SQL_TOKENS_D}, {_STOP_SQL['en']})) AS swh,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS np
  FROM documents)
SELECT doc_id, n_tokens,
       nc::DOUBLE / greatest(n_tokens, 1) AS avg_token_len,
       np::DOUBLE / greatest(nc, 1) AS punct_ratio,
       swh::DOUBLE / {_N_STOP}.0 AS stopword_ratio,
       0.4 * ((n_tokens >= 10 AND n_tokens <= 100000)::INT)::DOUBLE
         + 0.3 * (1.0 - least((np::DOUBLE / greatest(nc, 1)) * 5, 1.0))
         + 0.3 * least((swh::DOUBLE / {_N_STOP}.0) * 2, 1.0) AS quality_score
FROM b
"""


@query("q32_text_quality", _QUALITY_ORACLE)
def q32_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.quality: Gopher/C4-style heuristic features + score."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("text.quality", ctx, [d], column="text")
    return _op("select.apply", ctx, [out],
               columns=["doc_id", "n_tokens", "avg_token_len", "punct_ratio",
                        "stopword_ratio", "quality_score"])


_TOKCOUNT_ORACLE = rf"""
WITH b AS (
  SELECT doc_id,
         len({_SQL_TOKENS})::INT AS ws_tokens,
         list_sum(list_transform(
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
           w -> (length(w) + 3) // 4))::BIGINT
           + length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS bpe_tokens
  FROM documents)
SELECT doc_id, ws_tokens, bpe_tokens FROM b
"""


@query("q33_token_count", _TOKCOUNT_ORACLE)
def q33_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.token_count: whitespace + BPE-ish token estimates."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("text.token_count", ctx, [d], column="text")
    return _op("select.apply", ctx, [out], columns=["doc_id", "ws_tokens", "bpe_tokens"])


_KNN_IDS = [0, 1, 2, 3, 4]

_KNN_BRUTE_ORACLE = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({', '.join(map(str, _KNN_IDS))})),
sims AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine
  FROM e, q WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM sims)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


@query("q34_knn_brute", _KNN_BRUTE_ORACLE)
def q34_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn.brute: exact top-5 cosine neighbors for 5 query vectors
    (broadcast queries; single corpus scan)."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    return _op("knn.brute", ctx, [e], id_column="vec_id", column="embedding",
               k=5, query_ids=_KNN_IDS)


_KNN_IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS ql, v AS qv FROM e WHERE vec_id IN ({', '.join(map(str, _KNN_IDS))})),
sims AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine
  FROM e JOIN q ON e.label = q.ql WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM sims)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


@query("q35_knn_ivf", _KNN_IVF_ORACLE)
def q35_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn.ivf: ANN probing only the query's bucket (label column =
    precomputed coarse cluster) — scans ~1/n_buckets of the corpus."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    return _op("knn.ivf", ctx, [e], id_column="vec_id", column="embedding",
               bucket_column="label", k=5, query_ids=_KNN_IDS)


_EMB_DEDUP_ORACLE = """
WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
WHERE cosine >= 0.3
"""


@query("q36_dedup_embedding", _EMB_DEDUP_ORACLE)
def q36_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.embedding: cosine near-dup pairs inside label buckets."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    return _op("dedup.embedding", ctx, [e], id_column="vec_id", column="embedding",
               bucket_column="label", threshold=0.3)


@query(
    "q37_media_decode",
    """
    SELECT doc_id,
           (64 + ('0x' || substr(md5(text), 1, 2))::INT % 192)::INT AS width,
           (64 + ('0x' || substr(md5(text), 3, 2))::INT % 192)::INT AS height,
           (['png', 'jpeg', 'webp'])[(('0x' || substr(md5(text), 5, 2))::INT % 3) + 1] AS format,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
)
def q37_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media.decode plumbing: binary column -> metadata struct via
    Arrow-batched mapInPandas (deterministic fake codec — the oracle
    reproduces it from md5; real decoders plug into the same seam)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    d = _op("map.apply", ctx, [d], expression="CAST(text AS BINARY)", output_column="data")
    out = _op("media.decode", ctx, [d], column="data", codec="fake")
    for fieldname in ["width", "height", "format", "n_bytes"]:
        out = _op("map.apply", ctx, [out], expression=f"media_meta.{fieldname}", output_column=fieldname)
    return _op("select.apply", ctx, [out], columns=["doc_id", "width", "height", "format", "n_bytes"])


@query(
    "q38_frame_sample",
    """
    SELECT doc_id, i::INT AS frame_idx, md5(text || i::VARCHAR) AS frame_hash
    FROM documents, (SELECT unnest([0, 1]) AS i)
    """,
)
def q38_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media.frame_sample plumbing: 1 binary row -> n frame rows."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    d = _op("map.apply", ctx, [d], expression="CAST(text AS BINARY)", output_column="data")
    return _op("media.frame_sample", ctx, [d], column="data", id_column="doc_id",
               n_frames=2, codec="fake")


@query(
    "q39_pipeline_spec",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
    """,
)
def q39_pipeline_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pipeline-spec path: dict spec -> parse -> validate
    -> compile to one lazy Catalyst plan (spec.py + compiler.py;
    mirrors the reference's TOML lifecycle, config.rs:210-221)."""
    from conveyor_spark.compiler import compile_pipeline
    from conveyor_spark.config.spec import parse_spec

    _ctx(spark)
    spec = parse_spec(
        {
            "pipeline": {"name": "building-rich-customers"},
            "stages": [
                {"id": "src", "function": "parquet.read",
                 "config": {"path": f"{sf_dir}/customer.parquet"}},
                {"id": "seg", "function": "filter.apply", "inputs": ["src"],
                 "config": {"column": "c_mktsegment", "operator": "==", "value": "BUILDING"}},
                {"id": "rich", "function": "filter.apply", "inputs": ["seg"],
                 "config": {"column": "c_acctbal", "operator": ">", "value": 1000.0}},
                {"id": "proj", "function": "select.apply", "inputs": ["rich"],
                 "config": {"columns": ["c_custkey", "c_name", "c_acctbal"]}},
            ],
        }
    )
    return compile_pipeline(spark, spec).outputs["proj"]


@query(
    "q40_streaming_tumbling",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts)
    """,
)
def q40_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming: file-source stream over events parquet,
    1-hour event-time tumbling window + watermark, availableNow drain
    to a memory sink (streaming/ops.py).

    VALUE-CHECKED against the batch-equivalent SQL: with an
    availableNow drain of a static file the stream must produce
    exactly the batch tumbling-window result (the watermark drops
    nothing — all data arrives in one micro-batch). Sums go through
    DECIMAL so the hash comparison is order-insensitive."""
    from conveyor_spark.streaming.ops import (
        read_file_stream,
        run_available_now,
        windowed_aggregate,
    )

    _ctx(spark)
    schema = raw_schema(spark, sf_dir, "events")
    # The file-stream source needs a directory; glob-filter the file.
    sdf = _read_events_stream(spark, sf_dir, schema)
    if dict(sdf.dtypes).get("ts") == "bigint":
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    sdf = sdf.withColumn("vdec", F.col("value").cast("decimal(18,2)"))
    agg = windowed_aggregate(
        sdf, "ts", "1 hour",
        aggs=[("event_id", "count", "n_events"), ("vdec", "sum", "sum_dec")],
        watermark="2 hours",
    )
    # bounded drain: 8 state stores, not 32 (see run_available_now)
    out = run_available_now(agg, "q40_streaming_tumbling", state_partitions=8)
    return out.select(
        "window_start", "window_end", "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


@query(
    "q41_ai_generate",
    """
    SELECT doc_id, 'echo(tagger-1): classify source ' || source AS tag
    FROM documents
    """,
)
def q41_ai_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ai.generate through the deterministic mock provider — proves
    the mapInPandas + thread-pool plumbing and prompt templating
    (reference ai.rs:355-417) against a SQL oracle."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("ai.generate", ctx, [d], provider="mock", model="tagger-1",
              prompt="classify source {{ source }}", output_column="tag")
    return _op("select.apply", ctx, [out], columns=["doc_id", "tag"])


@query(
    "q42_http_fetch",
    """
    SELECT n_nationkey, n_name,
           '{"url": "http://api/nations/' || n_nationkey || '", "method": "GET"}' AS http_result
    FROM nation
    """,
)
def q42_http_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """http.fetch per-row enrichment with an injected deterministic
    fetcher (the reference's flagship bounded-concurrency feature,
    http_fetch.rs:410-518) — template rendering + result_field
    checked against a SQL oracle."""
    ctx = _ctx(spark)
    n = load_table(spark, sf_dir, "nation")

    def echo(url: str, method: str, headers: dict, body):  # closure: pickled by value
        return '{"url": "%s", "method": "%s"}' % (url, method)

    out = _op("http.fetch", ctx, [n], url="http://api/nations/{{ n_nationkey }}",
              mode="per_row", concurrency=4, _fetcher=echo)
    return _op("select.apply", ctx, [out], columns=["n_nationkey", "n_name", "http_result"])


@query(
    "q43_count_window_agg",
    """
    WITH seq AS (
      SELECT (row_number() OVER (ORDER BY event_id) - 1) // 1000 AS window_id,
             value
      FROM events)
    SELECT window_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value
    FROM seq GROUP BY window_id
    """,
)
def q43_count_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's window.apply -> aggregate chain with its
    COUNT-based tumbling windows (streaming.rs:75-135): 1000-row
    windows over an explicit order + per-window aggregates."""
    ctx = _ctx(spark)
    ev = load_table(spark, sf_dir, "events")
    df = _op("map.apply", ctx, [ev], expression="CAST(value AS DECIMAL(18,2))", output_column="vdec")
    df = _op("window.apply", ctx, [df], type="tumbling", size=1000, order_by="event_id")
    g = _op(
        "groupby.apply", ctx, [df], by="window_id",
        aggregations=[
            {"column": "event_id", "operation": "count", "output_column": "n_events"},
            {"column": "vdec", "operation": "sum", "output_column": "sum_dec"},
            {"column": "value", "operation": "min", "output_column": "min_value"},
        ],
    )
    g = _op("map.apply", ctx, [g], expression="CAST(sum_dec AS DOUBLE)", output_column="sum_value")
    return _op("select.apply", ctx, [g], columns=["window_id", "n_events", "sum_value", "min_value"])


@query(
    "q44_py_eval",
    "SELECT doc_id, upper(source) AS src_upper FROM documents WHERE lang <> 'zh'",
)
def q44_py_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """py.eval scripted per-row UDF (the js.eval capability,
    plugin lib.rs:61-72): transform + null-drop semantics."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    script = (
        "def transform(row):\n"
        "    if row['lang'] == 'zh':\n"
        "        return None\n"
        "    return {'doc_id': row['doc_id'], 'src_upper': row['source'].upper()}\n"
    )
    return _op("py.eval", ctx, [d], script=script,
               output_schema="doc_id BIGINT, src_upper STRING")


def _emb_lsh_oracle(bits: int = 16, dim: int = 64) -> str:
    from conveyor_spark.datapipe.emb_lsh import sign_matrix

    planes = sign_matrix(bits, dim)
    terms = " + ".join(
        "(CASE WHEN list_dot_product(v, [{signs}]) > 0 THEN {p} ELSE 0 END)".format(
            signs=", ".join(f"{s:.1f}" for s in planes[j]), p=2**j
        )
        for j in range(bits)
    )
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
    SELECT vec_id, ({terms})::BIGINT AS lsh_sig FROM e
    """


@query("q45_embedding_lsh", _emb_lsh_oracle())
def q45_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding.lsh random-hyperplane signatures (deterministic
    Rademacher planes — the ANN bucketing path at scale)."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    out = _op("embedding.lsh", ctx, [e], column="embedding", bits=16, dim=64)
    return _op("select.apply", ctx, [out], columns=["vec_id", "lsh_sig"])


@query(
    "q46_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
    FROM lineitem WHERE l_orderkey <= 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount' AS measure, l_discount AS value
    FROM lineitem WHERE l_orderkey <= 1000
    """,
)
def q46_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot.apply: wide measures -> long (reference roadmap item)."""
    ctx = _ctx(spark)
    li = load_table(spark, sf_dir, "lineitem")
    df = _op("filter.apply", ctx, [li], column="l_orderkey", operator="<=", value=1000)
    df = _op("select.apply", ctx, [df],
             columns=["l_orderkey", "l_linenumber", "l_quantity", "l_discount"])
    return _op("unpivot.apply", ctx, [df], ids=["l_orderkey", "l_linenumber"],
               values=["l_quantity", "l_discount"],
               variable_column="measure", value_column="value")


@query(
    "q47_ntile",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile
    FROM orders
    """,
)
def q47_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window.function ntile — quartiles per priority (ties broken by
    orderkey so bucket assignment is cross-engine deterministic)."""
    ctx = _ctx(spark)
    o = load_table(spark, sf_dir, "orders")
    df = _op("select.apply", ctx, [o], columns=["o_orderkey", "o_orderpriority", "o_totalprice"])
    df = _op("window.function", ctx, [df], function="ntile", n=4, output_column="quartile",
             partition_by="o_orderpriority", order_by=["o_totalprice", "o_orderkey"])
    return _op("select.apply", ctx, [df], columns=["o_orderkey", "o_orderpriority", "quartile"])


@query(
    "q48_repartition_invariance",
    """
    SELECT l_suppkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_suppkey
    """,
)
def q48_repartition_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repartition.apply must be result-invariant: hash-repartition by
    the group key ahead of the aggregate (the co-location pattern for
    repeated aggs) and the decimal sums still match the oracle."""
    ctx = _ctx(spark)
    li = load_table(spark, sf_dir, "lineitem")
    df = _op("repartition.apply", ctx, [li], num_partitions=16, by="l_suppkey")
    df = _op("map.apply", ctx, [df], expression="CAST(l_quantity AS DECIMAL(18,2))", output_column="qdec")
    g = _op(
        "groupby.apply", ctx, [df], by="l_suppkey",
        aggregations=[
            {"column": "l_orderkey", "operation": "count", "output_column": "n_items"},
            {"column": "qdec", "operation": "sum", "output_column": "sum_dec"},
        ],
    )
    g = _op("map.apply", ctx, [g], expression="CAST(sum_dec AS DOUBLE)", output_column="sum_qty")
    return _op("select.apply", ctx, [g], columns=["l_suppkey", "n_items", "sum_qty"])


@query(
    "q49_stream_count_window",
    """
    WITH seq AS (
      SELECT event_type,
             (row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1) // 500
               AS window_id
      FROM events)
    SELECT event_type, window_id, COUNT(*) AS n_rows, (COUNT(*) = 500) AS closed
    FROM seq GROUP BY event_type, window_id
    """,
)
def q49_stream_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream.count_window: cross-micro-batch count windows via
    applyInPandasWithState.

    VALUE-CHECKED against the batch-equivalent SQL: an availableNow
    drain of one static file is a single micro-batch, so the stateful
    op's update rows are exactly the per-key count-window partition
    of the whole table (order_by makes it deterministic)."""
    from conveyor_spark.registry import get_function
    from conveyor_spark.streaming.ops import read_file_stream

    ctx = _ctx(spark)
    schema = raw_schema(spark, sf_dir, "events")
    sdf = _read_events_stream(spark, sf_dir, schema)
    win = get_function("stream.count_window").fn(
        ctx, [sdf], {"size": 500, "key_columns": "event_type", "order_by": "event_id"}
    )
    from conveyor_spark.streaming.ops import run_available_now

    return run_available_now(
        win, "q49_count_windows", output_mode="update", state_partitions=8
    )


@query(
    "q50_split_assign",
    f"""
    WITH b AS (
      SELECT doc_id,
             {_sql_hash("doc_id::VARCHAR || '#split'")} % 10000 AS bucket
      FROM documents)
    SELECT doc_id,
           CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def q50_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split.assign: hash-deterministic train/val/test assignment —
    stable across runs, partitionings and engines (the reproducibility
    property random splits lack)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("split.assign", ctx, [d], id_column="doc_id",
              fractions={"train": 0.8, "val": 0.1, "test": 0.1})
    return _op("select.apply", ctx, [out], columns=["doc_id", "split"])


@query(
    "q51_jaccard_pruned",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    s AS (SELECT doc_id, {_SQL_SHINGLE3} AS sh FROM t),
    sized AS (SELECT doc_id, len(sh) AS sz, sh FROM s),
    p AS (SELECT doc_id, sz, unnest(sh) AS tok FROM sized),
    tot AS (SELECT COUNT(*) AS n FROM sized),
    hot AS (SELECT tok FROM p, tot GROUP BY tok, tot.n
            HAVING COUNT(*) > greatest(CAST(floor(0.05 * tot.n) AS BIGINT), 1)),
    pp AS (SELECT * FROM p WHERE tok NOT IN (SELECT tok FROM hot))
    SELECT id_a, id_b, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*)::DOUBLE / (any_value(a.sz) + any_value(b.sz) - COUNT(*)) AS jaccard
      FROM pp a JOIN pp b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    WHERE jaccard >= 0.5
    """,
)
def q51_jaccard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.ngram_jaccard DEFAULT mode: document-frequency pruning on
    (max_df=0.05) — hot shingles leave the posting lists before the
    self-join, bounding the pair explosion at scale. Conservative:
    denominators keep full set sizes, so jaccard <= exact jaccard."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    return _op("dedup.ngram_jaccard", ctx, [d], column="text", id_column="doc_id",
               shingle="word", ngram=3, threshold=0.5)


@query(
    "q52_jaccard_candidates",
    f"""
    WITH m AS ({_minhash_oracle()}),
    t AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    s AS (SELECT doc_id, {_SQL_SHINGLE3} AS sh FROM t)
    SELECT id_a, id_b, jaccard FROM (
      SELECT m.id_a, m.id_b,
             len(list_intersect(sa.sh, sb.sh))::DOUBLE /
               (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
      FROM m JOIN s sa ON sa.doc_id = m.id_a JOIN s sb ON sb.doc_id = m.id_b)
    WHERE jaccard >= 0.5
    """,
)
def q52_jaccard_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard near-dup pipeline at scale: dedup.minhash LSH
    candidates -> dedup.ngram_jaccard candidate-verify mode (exact
    jaccard computed ONLY on candidate pairs — linear in candidates,
    never quadratic in document frequency)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    cands = _op("dedup.minhash", ctx, [d], column="text", id_column="doc_id",
                num_hashes=16, bands=4, shingle="word", ngram=3)
    return _op("dedup.ngram_jaccard", ctx, [d, cands], column="text", id_column="doc_id",
               shingle="word", ngram=3, threshold=0.5)


_Q52_PAIRS_SQL = f"""
    WITH m AS ({_minhash_oracle()}),
    t AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    s AS (SELECT doc_id, {_SQL_SHINGLE3} AS sh FROM t)
    SELECT id_a, id_b FROM (
      SELECT m.id_a, m.id_b,
             len(list_intersect(sa.sh, sb.sh))::DOUBLE /
               (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
      FROM m JOIN s sa ON sa.doc_id = m.id_a JOIN s sb ON sb.doc_id = m.id_b)
    WHERE jaccard >= 0.5
"""


# shared q53/q145 CTE chain: true connected components over the
# verified near-dup pairs — ends in ``comp(id, component)``
_COMPONENTS_CTE = f"""pairs AS ({_Q52_PAIRS_SQL}),
    und AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
    verts AS (SELECT DISTINCT a AS v FROM und),
    walk(v, l) AS (
      SELECT v, v FROM verts
      UNION
      SELECT u.b, w.l FROM walk w JOIN und u ON u.a = w.v
    ),
    comp AS (SELECT v AS id, MIN(l) AS component FROM walk GROUP BY v)"""


@query(
    "q53_dedup_components",
    f"""
    WITH RECURSIVE {_COMPONENTS_CTE}
    SELECT id, component, (id = component) AS is_canonical FROM comp
    """,
)
def q53_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE near-dup pipeline: minhash LSH candidates ->
    jaccard verification -> connected components (iterative min-label
    propagation) -> canonical doc per duplicate cluster. Oracle
    computes true components with a recursive CTE."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    cands = _op("dedup.minhash", ctx, [d], column="text", id_column="doc_id",
                num_hashes=16, bands=4, shingle="word", ngram=3)
    verified = _op("dedup.ngram_jaccard", ctx, [d, cands], column="text",
                   id_column="doc_id", shingle="word", ngram=3, threshold=0.5)
    return _op("dedup.components", ctx, [verified])


@query(
    "q54_sql_query",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'MACHINERY'
    GROUP BY o.o_orderpriority
    """,
)
def q54_sql_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sql.query: the full Spark SQL surface as a pipeline stage —
    inputs become temp views, Catalyst optimizes across the boundary
    (broadcast + pushdown, same as the DataFrame ops)."""
    ctx = _ctx(spark)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return _op(
        "sql.query", ctx, [o, c],
        views=["q54_orders", "q54_customer"],
        sql="""
          SELECT o.o_orderpriority, COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          FROM q54_orders o JOIN q54_customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_mktsegment = 'MACHINERY'
          GROUP BY o.o_orderpriority
        """,
    )


@query(
    "q55_text_normalize",
    r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(
             lower(translate(text,
               'áàâäãåéèêëíìîïóòôöõúùûüýÿçñÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝÇÑ',
               'aaaaaaeeeeiiiiooooouuuuyycnAAAAAAEEEEIIIIOOOOOUUUUYCN')),
             '[^a-zA-Z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS norm_text
    FROM documents
    """,
)
def q55_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.normalize full JVM path: accent fold + lowercase + punct
    strip + whitespace collapse + trim (C4-style canonicalization
    before fingerprint/dedup)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op(
        "text.normalize", ctx, [d],
        column="text", output_column="norm_text",
        strip_accents=True, strip_punct=True,
    )
    return out.select("doc_id", "norm_text")


# Deterministic PII injection shared by the Spark query and the
# oracle: the synthetic corpus has no real PII, so both engines
# append the same generated email/phone/ip/url spans per doc_id.
_PII_AUG = (
    "concat(text, ' contact user', cast({id} as string), '@example.com"
    " or 555-867-', lpad(cast({id} % 10000 as string), 4, '0'),"
    " ' ip 192.168.', cast({id} % 256 as string), '.1"
    " visit https://ex.org/', cast({id} as string))"
)


@query(
    "q56_pii_redact",
    r"""
    WITH aug AS (
      SELECT doc_id,
             concat(text, ' contact user', CAST(doc_id AS VARCHAR), '@example.com or 555-867-',
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                    ' ip 192.168.', CAST(doc_id % 256 AS VARCHAR), '.1 visit https://ex.org/',
                    CAST(doc_id AS VARCHAR)) AS t
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             'https?://[^\s]+', '[URL]', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g') AS red,
           len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS pii_email_count,
           len(regexp_extract_all(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::INT AS pii_phone_count
    FROM aug
    """,
)
def q56_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pii.redact over deterministically PII-augmented documents:
    url/email/ipv4/phone scrub (RE2-safe patterns, fixed order) plus
    pre-redaction match counts."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    aug = _op("map.apply", ctx, [d],
              expression=_PII_AUG.format(id="doc_id"), output_column="t")
    red = _op(
        "pii.redact", ctx, [aug],
        column="t", output_column="red",
        types=["url", "email", "ipv4", "phone"], with_counts=True,
    )
    return red.select("doc_id", "red", "pii_email_count", "pii_phone_count")


@query(
    "q57_text_repetition",
    r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ln,
             """ + _SQL_TOKENS + r""" AS tk
      FROM documents),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(tk) < 2 THEN []::VARCHAR[]
                  ELSE list_transform(range(0, len(tk) - 1),
                                      i -> array_to_string(list_slice(tk, i + 1, i + 2), ' '))
             END AS g
      FROM base),
    freq AS (
      SELECT doc_id, MAX(n) AS mx, SUM(n) AS tot FROM (
        SELECT doc_id, gram, COUNT(*) AS n
        FROM (SELECT doc_id, unnest(g) AS gram FROM grams)
        GROUP BY doc_id, gram)
      GROUP BY doc_id)
    SELECT b.doc_id,
           CASE WHEN len(b.ln) <= 0 THEN 0.0
                ELSE 1.0 - len(list_distinct(b.ln))::DOUBLE / len(b.ln)::DOUBLE END AS line_dup_ratio,
           CASE WHEN len(b.tk) <= 0 THEN 0.0
                ELSE 1.0 - len(list_distinct(b.tk))::DOUBLE / len(b.tk)::DOUBLE END AS token_dup_ratio,
           COALESCE(f.mx::DOUBLE / f.tot::DOUBLE, 0.0) AS top_ngram_ratio
    FROM base b LEFT JOIN freq f ON b.doc_id = f.doc_id
    """,
)
def q57_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.repetition (Gopher repetition filters): per-row array
    folds in Spark (no shuffle); the oracle recomputes the mode the
    relational way (unnest + group) — same numbers, different plan."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    rep = _op("text.repetition", ctx, [d], column="text", ngram=2)
    return rep.select("doc_id", "line_dup_ratio", "token_dup_ratio", "top_ngram_ratio")


_SQL_SHINGLE5 = (
    "list_distinct(list_transform("
    "range(0, greatest(len(tk) - 5, 0) + 1), "
    "i -> array_to_string(list_slice(tk, i + 1, i + 5), ' ')))"
)


@query(
    "q58_decontam_ngram",
    f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLE5} AS sh FROM tk),
    bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
    cg AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    dirty AS (SELECT DISTINCT doc_id FROM cg WHERE g IN (SELECT g FROM bg))
    SELECT d.doc_id, (dy.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN dirty dy ON d.doc_id = dy.doc_id
    """,
)
def q58_decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decontam.ngram: flag corpus docs sharing any 5-gram with a
    'benchmark' set (every 97th doc) — the eval-set decontamination
    pass of a training-data pipeline. Benchmark grams broadcast; the
    corpus text never shuffles."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    bench = _op("filter.apply", ctx, [d], expr="doc_id % 97 = 0")
    out = _op(
        "decontam.ngram", ctx, [d, bench],
        column="text", id_column="doc_id", ngram=5, mode="flag",
    )
    return out.select("doc_id", "contaminated")


@query(
    "q59_asof_join",
    # the click side pre-dedupes (user_id, ts) ties to the max
    # event_id row — join.asof breaks equal-time build ties by the
    # max carried struct (event_id leads the field order), while
    # DuckDB ASOF picks an ARBITRARY tied row; without this the two
    # engines only agree while the generator emits no ties
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click') WHERE rn = 1)
    SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts, c.value AS click_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q59_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join.asof: each purchase gets the user's most recent prior
    click (the feature-store / timeseries-enrichment primitive).
    Union-scan implementation: ONE shuffle by user_id, running
    last(ignorenulls) — never an inequality join, never an
    unpartitioned window."""
    ctx = _ctx(spark)
    ev = load_table(spark, sf_dir, "events")
    p = _op("filter.apply", ctx, [ev], expr="event_type = 'purchase'")
    c = _op("filter.apply", ctx, [ev], expr="event_type = 'click'")
    out = _op("join.asof", ctx, [p, c], on="ts", by="user_id")
    return out.select(
        "event_id", "user_id", "ts",
        F.col("r_ts").alias("click_ts"), F.col("r_value").alias("click_value"),
    )


@query(
    "q60_range_join",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    e AS (SELECT event_id AS err_id, user_id, ts AS lo,
                 ts + INTERVAL 30 MINUTE AS hi
          FROM events WHERE event_type = 'error')
    SELECT p.event_id, p.user_id, p.ts, e.err_id, e.lo AS err_ts
    FROM p JOIN e ON p.user_id = e.user_id AND p.ts >= e.lo AND p.ts < e.hi
    """,
)
def q60_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join.range: purchases landing inside a 30-minute window after
    an error by the same user. Bucketed strategy (600 s buckets):
    intervals explode to covered buckets, the join is a pure EQUI
    join on (user_id, bucket) + exact bound filter — no nested-loop,
    partitionable at any scale."""
    ctx = _ctx(spark)
    ev = load_table(spark, sf_dir, "events")
    p = _op("filter.apply", ctx, [ev], expr="event_type = 'purchase'")
    e = _op("filter.apply", ctx, [ev], expr="event_type = 'error'")
    iv = e.select(
        F.col("event_id").alias("err_id"), "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("hi"),
    )
    out = _op("join.range", ctx, [p, iv], on="ts", lower="lo", upper="hi",
              by="user_id", bucket=600)
    return out.select(
        "event_id", "user_id", "ts",
        F.col("r_err_id").alias("err_id"), F.col("r_lo").alias("err_ts"),
    )


@query(
    "q61_rollup",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q61_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby.apply grouping=rollup: hierarchical subtotals
    (flag+status, flag, grand total) in ONE hash aggregate with
    map-side partials — not one job per level."""
    ctx = _ctx(spark)
    li = load_table(spark, sf_dir, "lineitem")
    df = _op("map.apply", ctx, [li],
             expression="CAST(l_quantity AS DECIMAL(18,2))", output_column="qdec")
    g = _op(
        "groupby.apply", ctx, [df],
        by=["l_returnflag", "l_linestatus"], grouping="rollup",
        aggregations=[
            {"column": "l_orderkey", "operation": "count", "output_column": "n_items"},
            {"column": "qdec", "operation": "sum", "output_column": "sum_qdec"},
        ],
    )
    return g.select(
        "l_returnflag", "l_linestatus", "n_items",
        F.col("sum_qdec").cast("double").alias("sum_qty"),
    )


@query(
    "q62_profile",
    """
    SELECT 'o_orderkey' AS column, COUNT(*)::BIGINT AS n_rows,
           (COUNT(*) - COUNT(o_orderkey))::BIGINT AS n_nulls,
           COUNT(DISTINCT o_orderkey)::BIGINT AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*)::BIGINT, (COUNT(*) - COUNT(o_custkey))::BIGINT,
           COUNT(DISTINCT o_custkey)::BIGINT,
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*)::BIGINT, (COUNT(*) - COUNT(o_orderpriority))::BIGINT,
           COUNT(DISTINCT o_orderpriority)::BIGINT,
           CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
)
def q62_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """profile.apply: per-column null/distinct/min/max stats for three
    orders columns in ONE aggregate pass (the oracle needs three
    scans; the op's single-job shape is the point)."""
    ctx = _ctx(spark)
    o = load_table(spark, sf_dir, "orders")
    return _op("profile.apply", ctx, [o],
               columns=["o_orderkey", "o_custkey", "o_orderpriority"])


@query(
    "q63_stream_session_window",
    """
    WITH m AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) - 1 AS session_id
      FROM m),
    g AS (
      SELECT user_id, session_id::BIGINT AS session_id,
             MIN(ts) AS start_ts, MAX(ts) AS end_ts, COUNT(*)::BIGINT AS n_rows
      FROM s GROUP BY user_id, session_id)
    SELECT user_id, session_id, start_ts, end_ts, n_rows,
           (session_id < MAX(session_id) OVER (PARTITION BY user_id)) AS closed
    FROM g
    """,
)
def q63_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream.session_window: cross-micro-batch stateful sessions
    (applyInPandasWithState; custom close rules — here gap-only so
    the batch SQL sessionization oracle applies: an availableNow
    drain of one file is a single batch, so update rows = the full
    per-key session partition, last session per key open)."""
    from conveyor_spark.registry import get_function
    from conveyor_spark.streaming.ops import read_file_stream

    ctx = _ctx(spark)
    schema = raw_schema(spark, sf_dir, "events")
    sdf = _read_events_stream(spark, sf_dir, schema)
    if dict(sdf.dtypes).get("ts") == "bigint":
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    win = get_function("stream.session_window").fn(
        ctx, [sdf], {"gap": 1800, "key_columns": "user_id", "ts_column": "ts"}
    )
    from conveyor_spark.streaming.ops import run_available_now

    out = run_available_now(
        win, "q63_sessions", output_mode="update", state_partitions=8
    )
    return out.select(
        "user_id", "session_id", "start_ts", "end_ts", "n_rows", "closed"
    )


@query(
    "q64_fuzzy_join",
    """
    WITH pr AS (SELECT p_partkey AS id_a, lower(p_name) AS s_a
                FROM part WHERE p_partkey % 101 = 0),
    cat AS (SELECT p_partkey AS id_b, lower(p_name) AS s_b FROM part),
    cg AS (SELECT id_b, s_b, unnest(list_distinct(list_transform(
             range(1, greatest(len(s_b) - 3, 1) + 1),
             i -> substring(s_b, i, 4)))) AS g FROM cat),
    tot AS (SELECT count(*) AS n FROM part),
    keep AS (SELECT g FROM cg, tot GROUP BY g, tot.n
             HAVING count(DISTINCT id_b)
                    <= greatest(CAST(floor(0.05 * tot.n) AS BIGINT), 1)),
    pg AS (SELECT id_a, s_a, unnest(list_distinct(list_transform(
             range(1, greatest(len(s_a) - 3, 1) + 1),
             i -> substring(s_a, i, 4)))) AS g FROM pr),
    cand AS (SELECT DISTINCT a.id_a, a.s_a, c.id_b, c.s_b
             FROM pg a JOIN keep k ON a.g = k.g JOIN cg c ON a.g = c.g)
    SELECT id_a, id_b, s_a, s_b, levenshtein(s_a, s_b)::INT AS distance
    FROM cand
    WHERE levenshtein(s_a, s_b) <= 3 AND id_a <> id_b
    """,
)
def q64_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join.fuzzy: match a ~1% probe set of part names against the
    whole catalog (the entity-resolution shape) via q-gram
    posting-list blocking + thresholded Levenshtein verify, with the
    max_df HOT-GRAM GUARD ARMED (the oracle replays the pruning: a
    pair survives only through a shared gram whose catalog doc
    frequency is <= 5%). The 64-name part vocabulary is the
    documented anti-case — unguarded, every gram's posting list is
    1-24% of the catalog and the candidate join is quadratic by the
    data itself (7.2 GB shuffle at the 64x Zipf probe); the guard
    cuts candidate volume ~12x. Recall trade, stated: pairs whose
    EVERY shared gram is hot are dropped — here cross-name pairs
    sharing only a whole word (e.g. 'red bolt'~'hot bolt' via
    'bolt'); same-name duplicates and the probe's suffix-edit
    clusters keep their rarer word-boundary grams and survive."""
    ctx = _ctx(spark)
    p = load_table(spark, sf_dir, "part")
    probes = _op("filter.apply", ctx, [p], expr="p_partkey % 101 = 0")
    # ngram=4 keeps the completeness bound ((k+1)*q-1 = 15 chars <
    # every p_name) with ~4x fewer gram collisions than the default 3
    out = _op("join.fuzzy", ctx, [probes, p], on="p_name", id_column="p_partkey",
              max_distance=3, ngram=4, max_df=0.05)
    return _op("filter.apply", ctx, [out], expr="id_a <> id_b")


@query(
    "q65_boilerplate",
    """
    WITH aug AS (
      SELECT doc_id, source,
             text || chr(10) || 'footer: ' || source || ' all rights reserved' AS t
      FROM documents),
    l AS (
      SELECT doc_id, source,
             unnest(string_split(t, chr(10))) AS line,
             generate_subscripts(string_split(t, chr(10)), 1) AS pos
      FROM aug),
    lk AS (SELECT doc_id, source, line, pos, trim(line) AS key FROM l),
    tot AS (SELECT source, COUNT(DISTINCT doc_id) AS gt FROM aug GROUP BY source),
    freq AS (SELECT source, key, COUNT(DISTINCT doc_id) AS df
             FROM lk WHERE key <> '' GROUP BY source, key),
    boiler AS (
      SELECT f.source, f.key FROM freq f JOIN tot t ON f.source = t.source
      WHERE f.df >= greatest(t.gt * 0.3, 2.0)),
    kept AS (
      SELECT lk.doc_id, lk.line, lk.pos FROM lk
      LEFT JOIN boiler b ON lk.source = b.source AND lk.key = b.key
      WHERE b.key IS NULL)
    SELECT a.doc_id,
           COALESCE(k.t2, '') AS cleaned
    FROM aug a LEFT JOIN (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t2
      FROM kept GROUP BY doc_id) k ON a.doc_id = k.doc_id
    """,
)
def q65_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.boilerplate: per-source footer lines (injected
    deterministically, since the synthetic corpus is single-line)
    are detected by cross-document line frequency and stripped;
    unique content survives."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    aug = _op("map.apply", ctx, [d],
              expression="concat(text, '\\n', 'footer: ', source, ' all rights reserved')",
              output_column="t")
    out = _op("text.boilerplate", ctx, [aug], column="t", id_column="doc_id",
              group_by="source", min_df=0.3)
    return out.select("doc_id", F.col("t").alias("cleaned"))


@query(
    "q66_stream_join",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts, c.event_id AS r_event_id, c.ts AS r_ts
    FROM p JOIN c ON p.user_id = c.user_id
      AND p.ts - c.ts >= INTERVAL 0 SECOND
      AND p.ts - c.ts <= INTERVAL 30 MINUTE
    """,
)
def q66_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream.join: stream-stream equi-join (purchases x clicks by
    user) with an event-time bound — each purchase pairs with the
    user's clicks in the preceding 30 minutes. availableNow drain of
    one file = a single micro-batch, so the streaming join equals the
    batch inequality join (value-checked)."""
    from conveyor_spark.registry import get_function
    from conveyor_spark.streaming.ops import read_file_stream

    ctx = _ctx(spark)
    schema = raw_schema(spark, sf_dir, "events")

    def stream() -> DataFrame:
        sdf = _read_events_stream(spark, sf_dir, schema)
        if dict(sdf.dtypes).get("ts") == "bigint":
            sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return sdf

    # ONE source stream, filter-split into the two join sides — two
    # separate readStream handles re-list and re-scan the parquet per
    # micro-batch; the filter-split self-join is semantically
    # identical and measurably faster (A/B at sf0.1: 3.9s -> 2.3s
    # warm together with state_partitions 8 -> 4)
    s = stream()
    p = s.filter("event_type = 'purchase'")
    c = s.filter("event_type = 'click'")
    joined = get_function("stream.join").fn(
        ctx, [p, c],
        {"on": "user_id", "time_column": "ts", "max_delta": 1800,
         "min_delta": 0, "watermark": "2 hours"},
    )
    out = joined.select("event_id", "user_id", "ts", "r_event_id", "r_ts")
    # bounded drain: 4 state partitions (a stream-stream join opens
    # FOUR stores per shuffle partition; 32 partitions = 128 stores
    # of a few rows each, pure fixed overhead at this volume)
    from conveyor_spark.streaming.ops import run_available_now

    return run_available_now(
        out, "q66_stream_join", output_mode="append", state_partitions=4
    )


_Q67_MAGIC_SQL = """
      CASE doc_id % 4
        WHEN 0 THEN unhex('89504E470D0A1A0A')
        WHEN 1 THEN unhex('FFD8FFE0')
        WHEN 2 THEN unhex('524946460000000057415645')
        ELSE unhex('')
      END || encode(text)
"""


@query(
    "q67_media_metadata",
    f"""
    WITH m AS (SELECT doc_id, {_Q67_MAGIC_SQL} AS blob FROM documents)
    SELECT doc_id,
           CASE
             WHEN substring(hex(blob), 1, 16) = '89504E470D0A1A0A' THEN 'png'
             WHEN substring(hex(blob), 1, 6) = 'FFD8FF' THEN 'jpeg'
             WHEN substring(hex(blob), 1, 8) = '52494646'
                  AND substring(hex(blob), 17, 8) = '57415645' THEN 'wav'
             ELSE 'unknown'
           END AS media_format,
           octet_length(blob)::BIGINT AS media_bytes
    FROM m
    """,
)
def q67_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media.metadata: magic-byte container sniffing, pure JVM (the
    first pass over a crawled media corpus — route/quarantine/size-
    filter before any decode). Binary columns synthesized
    deterministically: a real magic prefix per doc_id bucket + the
    text bytes."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    aug = _op(
        "map.apply", ctx, [d],
        expression="""concat(
          CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN unhex('89504E470D0A1A0A')
            WHEN 1 THEN unhex('FFD8FFE0')
            WHEN 2 THEN unhex('524946460000000057415645')
            ELSE CAST('' AS BINARY)
          END, encode(text, 'UTF-8'))""",
        output_column="blob",
    )
    out = _op("media.metadata", ctx, [aug], column="blob")
    return out.select("doc_id", "media_format", "media_bytes")


def _knn_lsh_oracle(bits: int = 16, bands: int = 4, k: int = 3, dim: int = 64,
                    max_bucket: int | None = None) -> str:
    from conveyor_spark.datapipe.emb_lsh import sign_matrix

    planes = sign_matrix(bits, dim)
    terms = " + ".join(
        "(CASE WHEN list_dot_product(v, [{signs}]) > 0 THEN {p} ELSE 0 END)".format(
            signs=", ".join(f"{s:.1f}" for s in planes[j]), p=2**j
        )
        for j in range(bits)
    )
    width = bits // bands
    js = ", ".join(f"({j})" for j in range(bands))
    guard = (
        f" QUALIFY count(*) OVER (PARTITION BY t.j, "
        f"(sig >> (t.j * {width})) & {2**width - 1}) <= {max_bucket}"
        if max_bucket is not None else ""
    )
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    s AS (SELECT vec_id, v, ({terms})::BIGINT AS sig,
                 sqrt(list_dot_product(v, v)) AS nrm FROM e),
    b AS (SELECT vec_id, t.j, (sig >> (t.j * {width})) & {2**width - 1} AS val
          FROM s, (VALUES {js}) t(j){guard}),
    cand AS (SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
             FROM b a JOIN b c ON a.j = c.j AND a.val = c.val
                      AND a.vec_id <> c.vec_id),
    sc AS (SELECT cd.query_id, cd.neighbor_id,
                  round(list_dot_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6) AS cosine
           FROM cand cd
           JOIN s sa ON sa.vec_id = cd.query_id
           JOIN s sb ON sb.vec_id = cd.neighbor_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id)::INT AS rank
      FROM sc)
    WHERE rank <= {k}
    """


@query("q152_knn_lsh_scaled", _knn_lsh_oracle(bits=48, max_bucket=1024))
def q152_knn_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn.lsh at the OCCUPANCY-SCALED configuration — the q151
    pattern applied to q68: the demo query pins bits=24/bands=4
    (6-bit buckets, the envelope for <= ~10k vectors, where its
    oracle replays the planes bit-for-bit); this query executes the
    op's documented corpus-growth knob — bucket occupancy
    n / 2^(bits/bands) is the governing quantity, so 12-bit buckets
    (bits=48) hold it at ~tens of rows per bucket up to ~10^5
    vectors. The oracle replays the SAME 48 deterministic planes,
    4x12-bit bands, hot-bucket QUALIFY and candidate cosine in SQL —
    so the scale configuration the 64x probe runs zero-spill
    (SCALE_PROBE_r10_x64: 22 s / 243 MB vs the demo envelope's
    124 s / 2.0 GB spill) is hash-exact, not just bounded."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    return _op("knn.lsh", ctx, [e], id_column="vec_id", k=3, dim=64,
               bits=48, bands=4, max_bucket=1024)


@query(
    "q153_video_frame_stats",
    """
    WITH f AS (SELECT doc_id, unnest([0, 2, 4]) AS frame_idx
               FROM documents),
    g AS (SELECT doc_id, frame_idx,
                 ((doc_id * 31 + 57 * frame_idx) % 256)::DOUBLE AS gv
          FROM f)
    SELECT doc_id, frame_idx::INT AS frame_idx,
           6::INT AS n_frames_total, 5::INT AS fps,
           16::INT AS width, 16::INT AS height,
           [gv, gv, gv] AS mean,
           0.299::DOUBLE * gv + 0.587::DOUBLE * gv
             + 0.114::DOUBLE * gv AS luminance
    FROM g
    """,
)
def q153_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, hash-exact — the last media seam closed:
    each doc_id becomes a 6-frame Motion-JPEG AVI (16x16 solid-gray
    frames, gray = (doc_id*31 + 57*frame) % 256, encoded by the
    pure-Python baseline JPEG encoder at quality 85), then
    video.frame_stats walks the RIFF container, samples 3 frames
    evenly (indices 0/2/4), FULLY decodes each sampled frame through
    the JPEG Huffman+IDCT decoder, and emits per-frame pixel stats.
    The oracle computes the same statistics analytically — it never
    sees an AVI — because quality 85's DC quantization round-trips
    EVERY solid gray exactly (measured over all 256 values and
    pinned in tests/test_avi.py; quality 50 does NOT, e.g. 7 -> 8),
    so a value match proves the whole encode -> container ->
    frame-walk -> entropy-decode -> IDCT -> stats path bit-exactly
    (the q104/q106 recipe, now for video).

    Scale: synthesis and decode are one mapInPandas each, zero
    shuffle; frame SAMPLING means a 10k-frame video costs n_frames
    decodes, not 10k."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from conveyor_spark.datapipe.avi import avi_encode
        from conveyor_spark.datapipe.jpeg import jpeg_encode

        # only 256 distinct solid frames exist — memoize per worker
        # (30k encodes -> <=256; the bytes are identical, the AVI
        # assembly stays per row)
        cache: dict[int, bytes] = {}

        def enc(g: int) -> bytes:
            b = cache.get(g)
            if b is None:
                b = cache[g] = jpeg_encode(
                    np.full((16, 16, 3), g, dtype=np.uint8), quality=85
                )
            return b

        def one(i: int) -> bytes:
            frames = [enc((i * 31 + 57 * f) % 256) for f in range(6)]
            return avi_encode(frames, 16, 16, fps=5)

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": [one(int(i)) for i in pdf["doc_id"]],
            })

    from conveyor_spark.datapipe.dedup import widen

    vids = widen(ctx, d, {}).mapInPandas(
        synth, "doc_id long, content binary")
    return _op("video.frame_stats", ctx, [vids], column="content",
               id_column="doc_id", n_frames=3, widen=False)


@query("q68_knn_lsh", _knn_lsh_oracle(bits=24, max_bucket=1024))
def q68_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn.lsh: the both-sides-large ANN join — hyperplane band
    buckets -> equi-join candidates -> exact cosine on candidates
    only -> per-query top-k. Nothing broadcasts, nothing quadratic;
    the oracle reproduces the same deterministic planes/bands in SQL.
    24 bits / 4 bands = 6-bit buckets: ~4x fewer candidates than the
    16-bit default — the recall/cost knob, demonstrated tuned.
    max_bucket=1024 arms the hot-bucket guard (oracle mirrors it via
    QUALIFY): a no-op at gate scales (mean 6-bit bucket holds ~31
    rows at sf0.01, ~307 at sf0.1) but on Zipf duplicate-cluster data
    it bounds the candidate join — the 64x probe spilled 7.9 GB
    unguarded, the documented failure mode of duplicate-heavy corpora
    (resolve clusters with dedup.minhash first, or cap buckets).
    The internal signatures are embedding.lsh's one Arrow UDF engine,
    bit-identical to the planes the oracle replays."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    return _op("knn.lsh", ctx, [e], id_column="vec_id", k=3, dim=64,
               bits=24, bands=4, max_bucket=1024)


@query(
    "q69_stratified_sample",
    f"""
    WITH b AS (
      SELECT doc_id, lang,
             {_sql_hash("doc_id::VARCHAR || '#strat'")} % 10000 AS bucket
      FROM documents)
    SELECT doc_id, lang FROM b
    WHERE bucket < (CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.5
                    ELSE 1.0 END) * 10000
    """,
)
def q69_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample.stratified: corpus reweighting — keep 25% of 'en', 50%
    of 'de', all of everything else, as a pure function of doc_id
    (same rows survive on any layout/rerun; one codegen'd filter)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("sample.stratified", ctx, [d], by="lang", id_column="doc_id",
              fractions={"en": 0.25, "de": 0.5})
    return out.select("doc_id", "lang")


@query(
    "q70_freq_score",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tk FROM documents),
    cnt AS (SELECT tk, COUNT(*)::BIGINT AS c FROM tok GROUP BY tk),
    tot AS (SELECT SUM(c)::BIGINT AS total FROM cnt),
    per AS (
      SELECT t.doc_id, SUM(COALESCE(c.c, 0))::BIGINT AS s, COUNT(*)::BIGINT AS n
      FROM tok t LEFT JOIN cnt c ON t.tk = c.tk GROUP BY t.doc_id)
    SELECT d.doc_id,
           COALESCE(per.s::DOUBLE / (per.n * tot.total)::DOUBLE, 0.0) AS freq_score
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id CROSS JOIN tot
    """,
)
def q70_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.freq_score: average corpus frequency of each document's
    tokens — the statistical quality filter (CCNet shape) built on
    exact integer counts so it is bit-identical across engines and
    partitionings."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("text.freq_score", ctx, [d], column="text", id_column="doc_id")
    return out.select("doc_id", "freq_score")


@query(
    "q71_validate_quarantine",
    """
    WITH dirty AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN NULL ELSE text END AS text,
             CASE WHEN doc_id % 7 = 0 THEN 'not-a-date' ELSE '2024-01-15' END AS seen
      FROM documents)
    SELECT doc_id,
           (text IS NOT NULL AND NOT (doc_id % 7 = 0)) AS _valid,
           CASE WHEN text IS NULL AND doc_id % 7 = 0 THEN ['null:text', 'date:seen']
                WHEN text IS NULL THEN ['null:text']
                WHEN doc_id % 7 = 0 THEN ['date:seen']
                ELSE []::VARCHAR[] END AS _violations
    FROM dirty
    """,
)
def q71_validate_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """validate.schema mode=tag: row-level dead-letter tagging — each
    row gets _valid + the named rules it violates (null text /
    unparseable date), computed as one codegen'd expression, rows
    untouched. mode=filter is the same predicate as a WHERE."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    dirty = _op("map.apply", ctx, [d],
                expression="CASE WHEN doc_id % 13 = 0 THEN NULL ELSE text END",
                output_column="text")
    dirty = _op("map.apply", ctx, [dirty],
                expression="CASE WHEN doc_id % 7 = 0 THEN 'not-a-date' ELSE '2024-01-15' END",
                output_column="seen")
    out = _op("validate.schema", ctx, [dirty], mode="tag",
              non_nullable=["text"], date_fields=["seen"])
    return out.select("doc_id", "_valid", "_violations")


@query(
    "q72_dedup_exact_incremental",
    """
    WITH newd AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
    oldd AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
    fp AS (SELECT doc_id, md5(CAST(text AS VARCHAR)) AS f FROM newd),
    fresh AS (SELECT * FROM fp
              WHERE f NOT IN (SELECT DISTINCT md5(CAST(text AS VARCHAR)) FROM oldd)),
    keep AS (SELECT f, MIN(doc_id) AS doc_id FROM fresh GROUP BY f)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM newd d JOIN keep k ON d.doc_id = k.doc_id
    """,
)
def q72_dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.exact incremental: today's batch against the kept
    corpus — new rows whose content already exists are dropped, then
    new-vs-new resolves min-id-wins; only fingerprints of the
    existing corpus shuffle, never its rows."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    new = _op("filter.apply", ctx, [d], expr="doc_id % 3 = 0")
    old = _op("filter.apply", ctx, [d], expr="doc_id % 3 <> 0")
    out = _op("dedup.exact", ctx, [new, old], columns="text", id_column="doc_id")
    return out.select("doc_id", "lang", "source", "n_chars")


@query(
    "q73_dedup_minhash_incremental",
    _minhash_oracle(pair_where="WHERE a.doc_id % 3 = 0 OR b.doc_id % 3 = 0"),
)
def q73_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.minhash incremental: candidate pairs touching the new
    batch only (new-new + new-existing); existing-existing pairs are
    already resolved and never re-materialize. The union of the two
    sides is the whole corpus, so the oracle reuses the full banding
    machinery with a pair filter."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    new = _op("filter.apply", ctx, [d], expr="doc_id % 3 = 0")
    old = _op("filter.apply", ctx, [d], expr="doc_id % 3 <> 0")
    return _op("dedup.minhash", ctx, [new, old], column="text", id_column="doc_id",
               num_hashes=16, bands=4, shingle="word", ngram=3)


@query(
    "q74_text_chunk",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    s AS (SELECT doc_id, tk, unnest(range(0, len(tk), 15)) AS st
          FROM t WHERE len(tk) > 0)
    SELECT doc_id, (st / 15)::INT AS chunk_id,
           array_to_string(list_slice(tk, st + 1, st + 20), ' ') AS chunk,
           least(len(tk) - st, 20)::INT AS n_tokens
    FROM s
    """,
)
def q74_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.chunk: 20-token chunks with 5-token overlap — the
    context-length splitter of a training/RAG pipeline, pure per-row
    array expressions with one posexplode."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    return _op("text.chunk", ctx, [d], column="text", id_column="doc_id",
               size=20, overlap=5)


@query(
    "q75_window_rollup",
    """
    SELECT 'hour' AS granularity, date_trunc('hour', ts) AS bucket_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY date_trunc('hour', ts)
    UNION ALL
    SELECT 'day', date_trunc('day', ts), COUNT(*),
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
    FROM events GROUP BY date_trunc('day', ts)
    """,
)
def q75_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window.rollup: hourly + daily continuous aggregates in ONE
    partial-aggregated job (the oracle needs one scan per
    granularity; the op's single-pass shape is the point)."""
    ctx = _ctx(spark)
    ev = load_table(spark, sf_dir, "events")
    ev = _op("map.apply", ctx, [ev],
             expression="CAST(value AS DECIMAL(18,2))", output_column="vdec")
    out = _op(
        "window.rollup", ctx, [ev],
        time_column="ts", granularities=["hour", "day"],
        aggregations=[
            {"column": "event_id", "operation": "count", "output_column": "n_events"},
            {"column": "vdec", "operation": "sum", "output_column": "sum_vdec"},
        ],
    )
    return out.select(
        "granularity", "bucket_start", "n_events",
        F.col("sum_vdec").cast("double").alias("total_value"),
    )


@query(
    "q76_corpus_pipeline",
    rf"""
    WITH norm AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents),
    scored AS (
      SELECT *, len(list_filter(string_split_regex(t, '\s+'), x -> x <> '')) AS n_toks
      FROM norm),
    kept AS (SELECT * FROM scored WHERE n_toks >= 10),
    fp AS (SELECT *, md5(t) AS f FROM kept),
    uniq AS (
      SELECT fp.* FROM fp
      JOIN (SELECT f, MIN(doc_id) AS doc_id FROM fp GROUP BY f) k
        ON fp.doc_id = k.doc_id),
    sampled AS (
      SELECT * FROM (
        SELECT *, {_sql_hash("doc_id::VARCHAR || '#strat'")} % 10000 AS bucket
        FROM uniq)
      WHERE bucket < (CASE lang WHEN 'en' THEN 0.5 ELSE 1.0 END) * 10000),
    tok AS (SELECT doc_id, list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS tk
            FROM sampled),
    ch AS (SELECT doc_id, tk, unnest(range(0, len(tk), 15)) AS st
           FROM tok WHERE len(tk) > 0)
    SELECT doc_id, (st / 15)::INT AS chunk_id,
           array_to_string(list_slice(tk, st + 1, st + 20), ' ') AS chunk
    FROM ch
    """,
)
def q76_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE: the corpus build composed end-to-end from engine ops
    — normalize -> length filter -> exact dedup -> stratified
    reweighting -> context-length chunking — against ONE nested SQL
    oracle. Every stage stays a lazy fold on the same plan; Catalyst
    sees the whole pipeline."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    norm = _op("text.normalize", ctx, [d], column="text", output_column="t")
    counted = _op("text.token_count", ctx, [norm], column="t")
    kept = _op("filter.apply", ctx, [counted], expr="ws_tokens >= 10")
    uniq = _op("dedup.exact", ctx, [kept], columns="t", id_column="doc_id")
    sampled = _op("sample.stratified", ctx, [uniq], by="lang", id_column="doc_id",
                  fractions={"en": 0.5})
    chunks = _op("text.chunk", ctx, [sampled], column="t", id_column="doc_id",
                 size=20, overlap=5)
    return chunks.select("doc_id", "chunk_id", "chunk")


@query(
    "q77_topk_per_group",
    """
    SELECT doc_id, lang, n_chars, rk FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id)::INT AS rk
      FROM documents) t
    WHERE rk <= 3
    """,
)
def q77_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topk.apply: the 3 longest documents per language, via the
    salted two-phase tournament (salt=8) — each (lang, bucket) does a
    local top-3, the final window ranks at most 24 survivors per
    lang. Identical result to the plain window (top-k is
    distributive); the hot key's sort input shrinks ~8x."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("topk.apply", ctx, [d], by="lang",
              order_by=[{"column": "n_chars", "direction": "desc"},
                        {"column": "doc_id", "direction": "asc"}],
              k=3, salt=8, rank_column="rk")
    return out.select("doc_id", "lang", "n_chars", "rk")


@query(
    "q78_weighted_sample",
    f"""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             -ln((({_sql_hash("doc_id::VARCHAR || '|w3'")} + 1)::DOUBLE
                  / 1152921504606846976.0) ) / n_chars::DOUBLE AS k
      FROM documents WHERE n_chars > 0)
    ORDER BY k, doc_id LIMIT 500
    """,
)
def q78_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample.weighted: 500 documents drawn without replacement with
    probability ∝ n_chars (Efraimidis–Spirakis priority keys from a
    pure (id, seed) hash — the same sample on any partitioning). The
    global smallest-k is TakeOrderedAndProject: per-partition heaps,
    no global sort."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("sample.weighted", ctx, [d], weight_column="n_chars",
              id_column="doc_id", k=500, seed="w3")
    return out.select("doc_id", "lang", "n_chars")


@query(
    "q79_skew_analyze",
    """
    WITH c AS (SELECT event_type, COUNT(*)::BIGINT AS cnt FROM events GROUP BY event_type),
    t AS (SELECT SUM(cnt)::BIGINT AS total, COUNT(*)::BIGINT AS groups FROM c)
    SELECT event_type, cnt,
           cnt::DOUBLE / total::DOUBLE AS share,
           (cnt::DOUBLE * groups::DOUBLE) / total::DOUBLE AS skew,
           row_number() OVER (ORDER BY cnt DESC, event_type)::INT AS rank
    FROM c CROSS JOIN t
    ORDER BY cnt DESC, event_type LIMIT 5
    """,
)
def q79_skew_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skew.analyze: heavy-hitter diagnostics on events.event_type —
    count, share of rows, and skew factor vs a uniform key (the
    pre-flight check before shuffling 100 TB on a key). One shuffle
    at the key grain; the totals re-agg and top-N are on group counts
    only."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "events")
    return _op("skew.analyze", ctx, [e], by="event_type", top=5)


@query(
    "q80_decontam_bloom",
    f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLE5} AS sh FROM tk),
    bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
    cg AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    dirty AS (SELECT DISTINCT doc_id FROM cg WHERE g IN (SELECT g FROM bg))
    SELECT d.doc_id, (dy.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN dirty dy ON d.doc_id = dy.doc_id
    """,
)
def q80_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decontam.bloom: same contamination semantics as q58 but the
    benchmark grams are a Bloom filter, not an exact broadcast set —
    the path for reference sets too big to broadcast exactly. Oracle
    is the EXACT semi-join: valid because at fpp=1e-9 the expected
    false-positive count at test scale is ~0 (verified hash-exact at
    sf0.001/0.01/0.1; FPs only ever over-flag). Small reference sets
    size to textbook m under independent hashing (no orbit-containment
    channel), so every SF here stays on the inline all-JVM codegen
    path — zero shuffle of the corpus, zero Python. Mid filters ride
    a one-row broadcast join; only 10^8+-gram filters fall back to
    the numpy bit-gather (both unit-tested, not reached here)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    bench = _op("filter.apply", ctx, [d], expr="doc_id % 97 = 0")
    out = _op(
        "decontam.bloom", ctx, [d, bench],
        column="text", id_column="doc_id", ngram=5, mode="flag", fpp=1e-9,
    )
    return out.select("doc_id", "contaminated")


@query(
    "q81_embedding_normalize",
    """
    WITH n AS (
      SELECT vec_id,
             sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                    list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
                  (a, b) -> a + b)) AS nrm,
             embedding
      FROM embeddings)
    SELECT vec_id, nrm,
           CASE WHEN nrm = 0
                THEN list_transform(embedding, x -> x::DOUBLE)
                ELSE list_transform(embedding, x -> x::DOUBLE / nrm) END AS unit
    FROM n
    """,
)
def q81_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding.normalize: L2 unit vectors + the pre-norm as a
    quality signal. Left-fold sum of squares runs in array order in
    both engines, so doubles are bit-identical — no rounding needed.
    Pure codegen'd array exprs, zero shuffle."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    out = _op("embedding.normalize", ctx, [e], column="embedding",
              output_column="unit", norm_column="nrm")
    return out.select("vec_id", "nrm", "unit")


@query(
    "q82_embedding_quantize",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
      FROM embeddings)
    SELECT vec_id, scale,
           CASE WHEN scale = 0
                THEN list_transform(embedding, x -> 0::TINYINT)
                ELSE list_transform(embedding, x ->
                       greatest(-127.0, least(127.0, round(x::DOUBLE / scale)))::TINYINT)
           END AS q8
    FROM s
    """,
)
def q82_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding.quantize: symmetric int8 codes + per-row scale —
    4x storage cut for a 100 TB embedding corpus. max|x| and the
    rounded ratios are identical double ops in both engines."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    out = _op("embedding.quantize", ctx, [e], column="embedding",
              output_column="q8", scale_column="scale")
    return out.select("vec_id", "scale", "q8")


@query(
    "q83_pack_sequences",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, n_chars,
             {_sql_hash("doc_id::VARCHAR || '#pack'")} % 32 AS shard,
             row_number() OVER (
               PARTITION BY {_sql_hash("doc_id::VARCHAR || '#pack'")} % 32
               ORDER BY doc_id) AS rn
      FROM documents),
    r AS (
      SELECT shard, rn, doc_id, n_chars, n_chars AS fill, 0::BIGINT AS pack
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.rn, t.doc_id, t.n_chars,
             CASE WHEN r.fill + t.n_chars <= 4000 THEN r.fill + t.n_chars ELSE t.n_chars END,
             CASE WHEN r.fill + t.n_chars <= 4000 THEN r.pack ELSE r.pack + 1 END
      FROM r JOIN t ON t.shard = r.shard AND t.rn = r.rn + 1)
    SELECT doc_id, (shard * 4294967296 + pack)::BIGINT AS pack_id
    FROM r
    """,
)
def q83_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack.sequences: whole documents packed next-fit into 4000-char
    training sequences across 32 hash lanes. The Spark side is one
    shuffle on the (portable md5) shard key + a streaming Arrow scan
    with O(1) state — the partition never materializes; the oracle
    replays the same next-fit recurrence as a DuckDB recursive CTE
    (frontier = one row per shard per step). Pack ids are a pure
    function of the data, so any partitioning hashes identically."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("pack.sequences", ctx, [d], weight_column="n_chars",
              budget=4000, id_column="doc_id", shards=32)
    return out.select("doc_id", "pack_id")


@query(
    "q84_sample_balanced",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_sql_hash("doc_id::VARCHAR || '|bal'")},
                        doc_id) AS rk
      FROM documents) t
    WHERE rk <= 40
    """,
)
def q84_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample.balanced: at most 40 docs per language, selected in
    deterministic hash order (salt=4 two-phase tournament — identical
    output, hot languages never single-sort). The corpus-rebalancing
    cap that sample.stratified's fixed fractions can't express."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("sample.balanced", ctx, [d], by="lang", cap=40,
              id_column="doc_id", seed="bal", salt=4)
    return out.select("doc_id", "lang")


@query(
    "q85_html_strip",
    r"""
    WITH h AS (
      SELECT doc_id,
             '<html><head><style>p {color:red}</style></head><body><p>'
             || text || '</p><!-- c --><script>var x=1;</script></body></html>' AS page
      FROM documents),
    s AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          page,
          '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
          '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
          '(?is)<br\s*/?>|</p>|</div>|</li>|</tr>|</h[1-6]>', chr(10), 'g'),
          '(?s)<[^>]+>', ' ', 'g') AS t1
      FROM h),
    e AS (
      SELECT doc_id,
             replace(replace(replace(replace(replace(replace(replace(t1,
               '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', chr(39)), '&apos;', chr(39)) AS t2
      FROM s)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(t2,
             '[ \t\r\f]+', ' ', 'g'),
             ' ?\n ?', chr(10), 'g'),
             '\n{3,}', chr(10) || chr(10), 'g'),
             '(?s)^\s+|\s+$', '', 'g') AS clean
    FROM e
    """,
)
def q85_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.html_strip: wrap each doc in a synthetic HTML page
    (style/script/comment + block tags), then strip back to visible
    text — the web-corpus extraction pass. All RE2-safe regexes, so
    the oracle runs the SAME patterns; pure codegen, zero shuffle."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    page = _op(
        "map.apply", ctx, [d],
        expression="concat('<html><head><style>p {color:red}</style></head><body><p>', "
                   "text, '</p><!-- c --><script>var x=1;</script></body></html>')",
        output_column="page",
    )
    out = _op("text.html_strip", ctx, [page], column="page", output_column="clean")
    return out.select("doc_id", "clean")


@query(
    "q86_anomaly_zscore",
    """
    WITH m AS (
      SELECT lang,
             COUNT(n_chars)::DOUBLE AS n,
             SUM(n_chars::DECIMAL(18,3))::DOUBLE AS s,
             SUM(n_chars::DECIMAL(18,3) * n_chars::DECIMAL(18,3))::DOUBLE AS s2
      FROM documents GROUP BY lang)
    SELECT d.doc_id, d.lang,
           CASE WHEN m.n > 1 AND (m.s2 - m.s * (m.s / m.n)) / (m.n - 1.0) > 0
                THEN (d.n_chars::DOUBLE - m.s / m.n)
                     / sqrt((m.s2 - m.s * (m.s / m.n)) / (m.n - 1.0))
                ELSE 0.0 END AS zscore,
           CASE WHEN m.n > 1 AND (m.s2 - m.s * (m.s / m.n)) / (m.n - 1.0) > 0
                THEN abs((d.n_chars::DOUBLE - m.s / m.n)
                     / sqrt((m.s2 - m.s * (m.s / m.n)) / (m.n - 1.0))) > 1.5
                ELSE FALSE END AS is_outlier
    FROM documents d JOIN m ON d.lang = m.lang
    """,
)
def q86_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """anomaly.zscore: flag documents whose length is >1.5 sigma from
    their language's mean — distribution-level quality filtering. One
    shuffle (window-partition aggregate, no join back); moments from
    exact DECIMAL sums so z is bit-identical cross-engine."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("anomaly.zscore", ctx, [d], column="n_chars", by="lang",
              threshold=1.5)
    return out.select("doc_id", "lang", "zscore", "is_outlier")


@query(
    "q87_event_funnel",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events
      WHERE event_type IN ('view', 'click', 'purchase')),
    s1 AS (SELECT user_id, MIN(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.us > s1.t1
             AND e.us <= s1.t1 + 172800000000 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM e JOIN s1 ON e.user_id = s1.user_id
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.us > s2.t2
             AND e.us <= s1.t1 + 172800000000 GROUP BY e.user_id)
    SELECT s1.user_id,
           (CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END)::INT
             AS steps_completed,
           (t3 IS NOT NULL) AS converted,
           make_timestamp(t1) AS first_ts,
           make_timestamp(COALESCE(t3, t2, t1)) AS last_ts
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def q87_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event.funnel: first-touch view -> click -> purchase within 48h
    per user. ONE shuffle (group by user) + a single JVM aggregate()
    fold over the sorted event list — the oracle replays it as
    chained earliest-match CTEs (greedy earliest is optimal for
    subsequence matching, so the formulations agree)."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "events")
    return _op("event.funnel", ctx, [e], steps=["view", "click", "purchase"],
               by="user_id", within_seconds=172800)


@query(
    "q88_time_resample",
    """
    WITH b AS (
      SELECT user_id,
             (epoch_us(ts::TIMESTAMP) // 21600000000) AS bkt,
             COUNT(*)::BIGINT AS n,
             MIN(value) AS lo
      FROM events WHERE user_id % 10 = 3
      GROUP BY user_id, bkt),
    span AS (SELECT user_id, MIN(bkt) AS lo_b, MAX(bkt) AS hi_b FROM b GROUP BY user_id),
    grid AS (SELECT user_id, unnest(range(lo_b, hi_b + 1)) AS bkt FROM span),
    joined AS (
      SELECT g.user_id, g.bkt, b.n, b.lo FROM grid g
      LEFT JOIN b ON g.user_id = b.user_id AND g.bkt = b.bkt)
    SELECT user_id,
           make_timestamp(bkt * 21600000000) AS bucket_ts,
           COALESCE(n, 0) AS n,
           last_value(lo IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bkt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lo
    FROM joined
    """,
)
def q88_time_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time.resample: per-user 6-hour activity grid with empty bins
    materialized — count filled with zero, min(value) carried forward
    (the lagged-feature-grid shape). One keyed shuffle for the agg,
    per-group sequence() grid, keyed forward-fill window (never
    global-order). Filtered to a user cohort so the grid stays
    oracle-sized."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "events")
    cohort = _op("filter.apply", ctx, [e], expr="user_id % 10 = 3")
    out = _op("time.resample", ctx, [cohort], ts_column="ts",
              interval_seconds=21600, by="user_id",
              aggs={"n": {"column": "ts", "fn": "count", "fill": "zero"},
                    "lo": {"column": "value", "fn": "min", "fill": "prev"}})
    return out.select("user_id", "bucket_ts", "n", "lo")


@query(
    "q89_retention_cohort",
    """
    WITH b AS (SELECT user_id, epoch_us(ts::TIMESTAMP) // 604800000000 AS bkt FROM events),
    c AS (SELECT user_id, MIN(bkt) AS cohort FROM b GROUP BY user_id),
    p AS (SELECT DISTINCT b.user_id, c.cohort, b.bkt - c.cohort AS period
          FROM b JOIN c ON b.user_id = c.user_id),
    cnt AS (SELECT cohort, period, COUNT(*)::BIGINT AS active_users FROM p GROUP BY cohort, period),
    sz AS (SELECT cohort, active_users AS cohort_size FROM cnt WHERE period = 0)
    SELECT make_timestamp(cnt.cohort * 604800000000) AS cohort_ts,
           cnt.period::INT AS period, cnt.active_users, sz.cohort_size,
           cnt.active_users::DOUBLE / sz.cohort_size::DOUBLE AS retention
    FROM cnt JOIN sz ON cnt.cohort = sz.cohort
    """,
)
def q89_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retention.cohort: weekly cohort retention triangle. The
    first-activity window shuffles events by user ONCE (no join
    back); the distinct + counts run on (cohort, period, user) grain,
    already tiny. Exact distinct users, integer-division retention."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "events")
    return _op("retention.cohort", ctx, [e], by="user_id",
               interval_seconds=604800)


# z-order oracle: the bit-interleave is mechanical, so generate the
# 16 shift/mask terms instead of hand-writing them (bits=8, 2 dims)
_Z_TERMS = " + ".join(
    f"(((q{i} >> {b}) & 1) * {1 << (b * 2 + i)})" for b in range(8) for i in (0, 1)
)

@query(
    "q90_zorder",
    f"""
    WITH mm AS (
      SELECT MIN(o_totalprice::DOUBLE) AS m0, MAX(o_totalprice::DOUBLE) AS h0,
             MIN(o_custkey::DOUBLE) AS m1, MAX(o_custkey::DOUBLE) AS h1
      FROM orders),
    q AS (
      SELECT o_orderkey,
             LEAST(CASE WHEN h0 - m0 <= 0 OR o_totalprice IS NULL THEN 0
                        ELSE floor((o_totalprice::DOUBLE - m0) / (h0 - m0) * 255.0)::INT
                   END, 255) AS q0,
             LEAST(CASE WHEN h1 - m1 <= 0 OR o_custkey IS NULL THEN 0
                        ELSE floor((o_custkey::DOUBLE - m1) / (h1 - m1) * 255.0)::INT
                   END, 255) AS q1
      FROM orders CROSS JOIN mm)
    SELECT o_orderkey, ({_Z_TERMS})::BIGINT AS zv
    FROM q
    """,
)
def q90_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort.zorder: interleaved-bit cluster key over (price, custkey)
    — rows close in EITHER dimension land close in the linear order,
    so parquet min/max footers prune on both filters at once. Min/max
    are one broadcast aggregate row (lazy, no plan-build collect);
    the z-value is pure codegen'd shifts."""
    ctx = _ctx(spark)
    o = load_table(spark, sf_dir, "orders")
    out = _op("sort.zorder", ctx, [o], columns=["o_totalprice", "o_custkey"],
              bits=8, cluster=False, output_column="zv")
    return out.select("o_orderkey", "zv")


@query(
    "q91_percentiles",
    """
    SELECT lang,
           median(n_chars) AS med,
           quantile_cont(n_chars, 0.95) AS p95,
           quantile_cont(n_chars, 0.99) AS p99
    FROM documents GROUP BY lang
    """,
)
def q91_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby.apply percentile: exact interpolated per-group
    quantiles (doc-length p50/p95/p99 per language — the numbers a
    quality dashboard reports). Sort-based exact percentile; for
    interactive sketches use approx.quantiles instead."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    return _op("groupby.apply", ctx, [d], by="lang", aggregations=[
        {"column": "n_chars", "operation": "median", "output_column": "med"},
        {"column": "n_chars", "operation": "percentile", "p": 0.95,
         "output_column": "p95"},
        {"column": "n_chars", "operation": "percentile", "p": 0.99,
         "output_column": "p99"},
    ])


@query(
    "q92_drift_psi",
    """
    WITH r AS (
      SELECT LEAST(GREATEST(floor(n_chars::DOUBLE / 1000.0 * 10.0)::INT, 0), 9) AS bin,
             COUNT(*)::BIGINT AS n_ref
      FROM documents WHERE lang = 'en' GROUP BY bin),
    c AS (
      SELECT LEAST(GREATEST(floor(n_chars::DOUBLE / 1000.0 * 10.0)::INT, 0), 9) AS bin,
             COUNT(*)::BIGINT AS n_cur
      FROM documents WHERE lang = 'de' GROUP BY bin),
    spine AS (SELECT unnest(range(0, 10))::INT AS bin),
    j AS (SELECT s.bin, COALESCE(r.n_ref, 0) AS n_ref, COALESCE(c.n_cur, 0) AS n_cur
          FROM spine s LEFT JOIN r ON s.bin = r.bin LEFT JOIN c ON s.bin = c.bin),
    t AS (SELECT SUM(n_ref)::BIGINT AS tr, SUM(n_cur)::BIGINT AS tc FROM j),
    sh AS (SELECT bin, n_ref, n_cur,
                  GREATEST(n_ref::DOUBLE / tr::DOUBLE, 0.000001) AS p_ref,
                  GREATEST(n_cur::DOUBLE / tc::DOUBLE, 0.000001) AS p_cur
           FROM j CROSS JOIN t),
    sb AS (SELECT *, (p_cur - p_ref) * ln(p_cur / p_ref) AS psi_bin FROM sh),
    tot AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
                     list(psi_bin ORDER BY bin)), (a, b) -> a + b) AS psi_total
            FROM sb)
    SELECT bin, n_ref, n_cur, p_ref, p_cur,
           round(psi_bin, 9) AS psi_bin, round(psi_total, 9) AS psi_total
    FROM sb CROSS JOIN tot
    """,
)
def q92_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drift.psi: population stability of doc length, en cohort vs de
    cohort, fixed [0,1000] x 10 bins. One aggregate per side at bin
    grain, broadcast joins of <=10-row frames, PSI folded in bin
    order (deterministic double sum). psi columns rounded (9) — log
    noise, same policy as cosine rounding."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    en = _op("filter.apply", ctx, [d], expr="lang = 'en'")
    de = _op("filter.apply", ctx, [d], expr="lang = 'de'")
    out = _op("drift.psi", ctx, [en, de], column="n_chars",
              min=0, max=1000, bins=10)
    return out.select(
        "bin", "n_ref", "n_cur", "p_ref", "p_cur",
        F.round("psi_bin", 9).alias("psi_bin"),
        F.round("psi_total", 9).alias("psi_total"),
    )


@query(
    "q93_sessionize",
    """
    WITH e AS (SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS us FROM events),
    b AS (
      SELECT event_id, user_id, us,
             CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                       OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                          > 21600000000
                  THEN 1 ELSE 0 END AS bd
      FROM e)
    SELECT event_id, user_id,
           (SUM(bd) OVER (PARTITION BY user_id ORDER BY us
              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT
             AS session_id
    FROM b
    """,
)
def q93_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sessionize.assign: label every event with its user's 6h-gap
    session index — the per-event complement to window.apply's
    session aggregation. One keyed window (lag + RANGE-frame running
    sum, so tied timestamps always share a session)."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "events")
    out = _op("sessionize.assign", ctx, [e], by="user_id",
              gap_seconds=21600)
    return out.select("event_id", "user_id", "session_id")


@query(
    "q94_text_extract",
    r"""
    SELECT event_id,
           CASE WHEN regexp_extract(props, '"k":\s*(\d+)', 1) = '' THEN NULL
                ELSE regexp_extract(props, '"k":\s*(\d+)', 1)::INT END AS k_val,
           CASE WHEN regexp_extract(event_type, '^(..)', 1) = '' THEN NULL
                ELSE regexp_extract(event_type, '^(..)', 1) END AS ty
    FROM events
    """,
)
def q94_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.extract: regex capture groups to typed columns (the
    log-parsing primitive) — here the numeric k out of the props JSON
    blob and a type prefix. Codegen'd regexp_extract chain, zero
    shuffle; non-matches are NULL, not empty strings."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "events")
    out = _op("text.extract", ctx, [e], column="props", fields={
        "k_val": {"pattern": r'"k":\s*(\d+)', "type": "int"},
    })
    out = _op("text.extract", ctx, [out], column="event_type", fields={
        "ty": {"pattern": r"^(..)"},
    })
    return out.select("event_id", "k_val", "ty")


@query(
    "q95_stream_funnel",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events
      WHERE event_type IN ('view', 'click', 'purchase')),
    s1 AS (SELECT user_id, MIN(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY e.user_id)
    SELECT s1.user_id,
           (CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END)::INT
             AS steps_completed,
           (t3 IS NOT NULL) AS converted,
           make_timestamp(t1) AS first_ts,
           make_timestamp(COALESCE(t3, t2, t1)) AS last_ts
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def q95_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream.funnel: the stateful streaming funnel, VALUE-CHECKED —
    an availableNow drain of the static events file is one
    event-time-sorted micro-batch, so the per-user update rows equal
    the batch funnel exactly (same chained-min oracle as q87, no
    window)."""
    from conveyor_spark.registry import get_function
    from conveyor_spark.streaming.ops import read_file_stream

    ctx = _ctx(spark)
    schema = raw_schema(spark, sf_dir, "events")
    sdf = _read_events_stream(spark, sf_dir, schema)
    if dict(sdf.dtypes).get("ts") == "bigint":
        sdf = sdf.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    fun = get_function("stream.funnel").fn(
        ctx, [sdf], {"steps": ["view", "click", "purchase"], "by": "user_id"}
    )
    from conveyor_spark.streaming.ops import run_available_now

    return run_available_now(
        fun, "q95_stream_funnel", output_mode="update", state_partitions=8
    )


@query(
    "q96_json_parse",
    """
    SELECT event_id,
           json_extract(props, '$.k')::INT AS k
    FROM events
    """,
)
def q96_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json.parse: typed from_json against a declared schema —
    one parse per row regardless of field count (N get_json_object
    calls would parse N times), flattened to top-level columns."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "events")
    out = _op("json.parse", ctx, [e], column="props", schema="k INT",
              flatten=True)
    return out.select("event_id", "k")


@query(
    "q97_analytics_capstone",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events),
    fe AS (SELECT * FROM e WHERE event_type IN ('view', 'click', 'purchase')),
    s1 AS (SELECT user_id, MIN(us) AS t1 FROM fe WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT fe.user_id, MIN(fe.us) AS t2 FROM fe JOIN s1 ON fe.user_id = s1.user_id
           WHERE fe.event_type = 'click' AND fe.us > s1.t1 GROUP BY fe.user_id),
    s3 AS (SELECT fe.user_id, MIN(fe.us) AS t3 FROM fe JOIN s2 ON fe.user_id = s2.user_id
           WHERE fe.event_type = 'purchase' AND fe.us > s2.t2 GROUP BY fe.user_id),
    funnel AS (
      SELECT s1.user_id,
             (CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                   ELSE 1 END)::INT AS steps_completed
      FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
              LEFT JOIN s3 ON s1.user_id = s3.user_id),
    sb AS (
      SELECT user_id, us,
             CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                       OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                          > 21600000000
                  THEN 1 ELSE 0 END AS bd
      FROM e),
    sessions AS (
      SELECT user_id, (SUM(bd))::BIGINT AS n_sessions FROM sb GROUP BY user_id),
    cohort AS (
      SELECT user_id, MIN(us // 604800000000) AS cohort_wk FROM e GROUP BY user_id)
    SELECT f.user_id, f.steps_completed, (f.steps_completed = 3) AS converted,
           s.n_sessions, make_timestamp(c.cohort_wk * 604800000000) AS cohort_ts
    FROM funnel f
    JOIN sessions s ON f.user_id = s.user_id
    JOIN cohort c ON f.user_id = c.user_id
    """,
)
def q97_analytics_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE 2 (product analytics): per-user record composing
    three engine ops on one event log — funnel progress
    (event.funnel), session count (sessionize.assign + groupby), and
    acquisition cohort (retention.cohort's grain) — against ONE
    nested SQL oracle. Every stage is a lazy fold on the same scan;
    the user_id shuffle is shared where Catalyst can prove it."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "events")
    fun = _op("event.funnel", ctx, [e], steps=["view", "click", "purchase"],
              by="user_id")
    sess = _op("sessionize.assign", ctx, [e], by="user_id", gap_seconds=21600)
    n_sess = _op("groupby.apply", ctx, [sess], by="user_id", aggregations=[
        {"column": "session_id", "operation": "count_distinct",
         "output_column": "n_sessions"},
    ])
    cohort = (
        e.groupBy("user_id")
        .agg(F.min(F.floor(F.unix_micros(F.col("ts")) / F.lit(604800000000))).alias("__wk"))
        .select("user_id",
                F.timestamp_micros((F.col("__wk") * F.lit(604800000000)).cast("bigint")).alias("cohort_ts"))
    )
    joined = (
        fun.select("user_id", "steps_completed", "converted")
        .join(n_sess, "user_id")
        .join(cohort, "user_id")
    )
    return joined.select("user_id", "steps_completed", "converted",
                         "n_sessions", "cohort_ts")


@query(
    "q98_table_upsert",
    """
    WITH changes AS (
      SELECT c_custkey,
             'UPDATED-' || c_name AS c_name,
             c_mktsegment,
             (c_custkey % 5 = 0) AS _deleted
      FROM customer WHERE c_custkey % 3 = 0),
    kept AS (
      SELECT s.c_custkey, s.c_name, s.c_mktsegment
      FROM customer s LEFT JOIN changes ch ON s.c_custkey = ch.c_custkey
      WHERE ch.c_custkey IS NULL),
    incoming AS (
      SELECT c_custkey, c_name, c_mktsegment FROM changes WHERE NOT _deleted)
    SELECT * FROM kept UNION ALL SELECT * FROM incoming
    """,
)
def q98_table_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table.upsert: merge-as-rewrite for parquet snapshots — every
    3rd customer gets an update, every 15th a delete; the snapshot
    never shuffles when the change set broadcasts. The parquet
    MERGE-less equivalent of a dimension-table maintenance loop."""
    ctx = _ctx(spark)
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment")
    changes = _op("map.apply", ctx, [
        _op("filter.apply", ctx, [c], expr="c_custkey % 3 = 0")
    ], expression="concat('UPDATED-', c_name)", output_column="c_name")
    changes = _op("map.apply", ctx, [changes],
                  expression="c_custkey % 5 = 0", output_column="_deleted")
    out = _op("table.upsert", ctx, [c, changes], key="c_custkey",
              delete_column="_deleted")
    return out


@query(
    "q99_diff",
    """
    WITH before AS (SELECT c_custkey, c_name, c_mktsegment FROM customer
                    WHERE c_custkey % 7 <> 0),
    after AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 11 = 0 THEN 'EDITED' ELSE c_name END AS c_name,
             c_mktsegment
      FROM customer WHERE c_custkey % 5 <> 0)
    SELECT COALESCE(b.c_custkey, a.c_custkey) AS c_custkey,
           CASE WHEN b.c_custkey IS NULL THEN 'added'
                WHEN a.c_custkey IS NULL THEN 'removed'
                WHEN b.c_name <> a.c_name THEN 'changed'
                ELSE 'unchanged' END AS diff_status,
           CASE WHEN b.c_custkey IS NOT NULL AND a.c_custkey IS NOT NULL
                     AND b.c_name <> a.c_name
                THEN ['c_name'] ELSE []::VARCHAR[] END AS changed_columns
    FROM before b FULL OUTER JOIN after a ON b.c_custkey = a.c_custkey
    WHERE NOT (b.c_custkey IS NOT NULL AND a.c_custkey IS NOT NULL
               AND b.c_name = a.c_name)
    """,
)
def q99_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """diff.apply: row-level audit between two snapshot versions —
    added/removed/changed plus WHICH columns changed (NULL-safe
    compares). The regression check after any pipeline refactor."""
    ctx = _ctx(spark)
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment")
    before = _op("filter.apply", ctx, [c], expr="c_custkey % 7 != 0")
    after = _op("filter.apply", ctx, [c], expr="c_custkey % 5 != 0")
    after = _op("map.apply", ctx, [after],
                expression="CASE WHEN c_custkey % 11 = 0 THEN 'EDITED' ELSE c_name END",
                output_column="c_name")
    return _op("diff.apply", ctx, [before, after], key="c_custkey")


@query(
    "q100_scd2",
    """
    WITH hist AS (
      SELECT c_custkey, c_name, c_mktsegment,
             TIMESTAMP '2024-01-01' AS valid_from,
             NULL::TIMESTAMP AS valid_to, TRUE AS is_current
      FROM customer),
    upd AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 8 = 0 THEN c_mktsegment ELSE 'WEB' END
               AS c_mktsegment,
             TIMESTAMP '2024-06-01' AS eff
      FROM customer WHERE c_custkey % 4 = 0),
    chg AS (
      SELECT u.* FROM upd u JOIN hist h ON u.c_custkey = h.c_custkey
      WHERE NOT (u.c_name = h.c_name AND u.c_mktsegment = h.c_mktsegment))
    SELECT h.c_custkey, h.c_name, h.c_mktsegment, h.valid_from, h.valid_to, h.is_current
    FROM hist h LEFT JOIN chg r ON h.c_custkey = r.c_custkey
    WHERE r.c_custkey IS NULL
    UNION ALL
    SELECT h.c_custkey, h.c_name, h.c_mktsegment, h.valid_from, r.eff, FALSE
    FROM hist h JOIN chg r ON h.c_custkey = r.c_custkey
    UNION ALL
    SELECT r.c_custkey, r.c_name, r.c_mktsegment, r.eff, NULL, TRUE FROM chg r
    """,
)
def q100_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scd2.apply: type-2 dimension history — every 4th customer gets
    a June update (every 8th is a no-op caught by skip_unchanged):
    current rows close at the effective time, new versions open.
    Closed history filters through without joining; the business-key
    join carries only current x updates."""
    ctx = _ctx(spark)
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment")
    hist = (
        c.withColumn("valid_from", F.lit("2024-01-01").cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    upd = (
        c.filter("c_custkey % 4 = 0")
        .withColumn(
            "c_mktsegment",
            F.expr("CASE WHEN c_custkey % 8 = 0 THEN c_mktsegment ELSE 'WEB' END"),
        )
        .withColumn("eff", F.lit("2024-06-01").cast("timestamp"))
    )
    out = _op("scd2.apply", ctx, [hist, upd], key="c_custkey", ts_column="eff")
    return out.select("c_custkey", "c_name", "c_mktsegment",
                      "valid_from", "valid_to", "is_current")


@query("q101_minhash_star", _minhash_oracle(star=True))
def q101_minhash_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.minhash pairs="star": one edge per bucket member to the
    bucket-min hub instead of all O(d^2) intra-bucket pairs — same
    connected components, O(d) edges per bucket, and the LSH
    self-join is replaced by a window over the skinny (id, band,
    sig) rows. The scale mode for duplicate-cluster-heavy corpora
    feeding dedup.components."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    return _op("dedup.minhash", ctx, [d], column="text", id_column="doc_id",
               num_hashes=16, bands=4, shingle="word", ngram=3, pairs="star")


@query(
    "q102_sliding_count_window",
    """
    WITH seq AS (
      SELECT row_number() OVER (ORDER BY event_id) - 1 AS i, value
      FROM events),
    w AS (
      SELECT unnest(generate_series(greatest(0, (i - 1000 + 500) // 500),
                                    i // 500)) AS window_id,
             value
      FROM seq)
    SELECT window_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value
    FROM w GROUP BY window_id
    """,
)
def q102_sliding_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL sliding count windows (size=1000, slide=500): each row
    belongs to every window whose [w*slide, w*slide+size) range
    covers its global index, so consecutive windows overlap by half.
    The reference TODO's this case into tumbling-of-slide
    (core/streaming.rs:113-127); we compute true overlapping
    membership via a map-side window-id explode on the two-phase
    global index — no shuffle beyond the index pass."""
    ctx = _ctx(spark)
    ev = load_table(spark, sf_dir, "events")
    df = _op("map.apply", ctx, [ev], expression="CAST(value AS DECIMAL(18,2))",
             output_column="vdec")
    df = _op("window.apply", ctx, [df], type="sliding", size=1000, slide=500,
             order_by="event_id")
    g = _op(
        "groupby.apply", ctx, [df], by="window_id",
        aggregations=[
            {"column": "event_id", "operation": "count", "output_column": "n_events"},
            {"column": "vdec", "operation": "sum", "output_column": "sum_dec"},
            {"column": "value", "operation": "min", "output_column": "min_value"},
        ],
    )
    g = _op("map.apply", ctx, [g], expression="CAST(sum_dec AS DOUBLE)",
            output_column="sum_value")
    return _op("select.apply", ctx, [g],
               columns=["window_id", "n_events", "sum_value", "min_value"])


@query(
    "q103_stream_sliding_count_window",
    """
    WITH counts AS (
      SELECT event_type, COUNT(*) AS c FROM events GROUP BY event_type),
    w AS (
      SELECT event_type, c,
             unnest(generate_series(0, (c - 1) // 500)) AS window_id
      FROM counts)
    SELECT event_type, window_id,
           least(1000, c - window_id * 500) AS n_rows,
           (c - window_id * 500) >= 1000 AS closed
    FROM w
    """,
)
def q103_stream_sliding_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream.count_window with slide < size: cross-micro-batch REAL
    sliding count windows via an O(1)-per-key row-counter state.

    VALUE-CHECKED against the batch-equivalent SQL: an availableNow
    drain of one static file is a single micro-batch, so the stateful
    op emits exactly one row per (key, window) with
    n_rows = min(size, c - w*slide) and closed = c - w*slide >= size
    — the same table the SQL derives from per-key counts alone."""
    from conveyor_spark.registry import get_function
    from conveyor_spark.streaming.ops import read_file_stream

    ctx = _ctx(spark)
    schema = raw_schema(spark, sf_dir, "events")
    sdf = _read_events_stream(spark, sf_dir, schema)
    win = get_function("stream.count_window").fn(
        ctx, [sdf], {"size": 1000, "slide": 500, "key_columns": "event_type"}
    )
    from conveyor_spark.streaming.ops import run_available_now

    return run_available_now(
        win, "q103_sliding_windows", output_mode="update", state_partitions=8
    )


@query(
    "q104_media_pixel_stats",
    """
    WITH px AS (
      SELECT d.doc_id,
             ((d.doc_id * 7 + 13 * g.y + g.x) % 256)::DOUBLE AS p
      FROM documents d,
           (SELECT x.x, y.y
            FROM (SELECT unnest(range(8)) AS x) x,
                 (SELECT unnest(range(8)) AS y) y) g
    )
    SELECT doc_id,
           8 AS width, 8 AS height, 1 AS channels,
           SUM(p) / 64 AS mean_v,
           sqrt(SUM(p * p) / 64 - (SUM(p) / 64) * (SUM(p) / 64)) AS std_v,
           SUM(p) / 64 AS luminance
    FROM px GROUP BY doc_id
    """,
)
def q104_media_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, hash-exact: each doc_id becomes an 8x8 gray
    PNG with pixel (doc_id*7 + 13y + x) % 256, encoded with the
    pure-Python encoder, then media.pixel_stats inflates + unfilters
    the bytes and computes mean/std/luminance. The oracle computes
    the SAME statistics analytically from the pixel formula — it
    never sees a PNG — so a value match proves the whole
    encode->compress->decode->unfilter->stats path bit-exactly (all
    intermediate doubles are dyadic rationals below 2^53, so Spark,
    numpy, and DuckDB agree to the last bit; sqrt is IEEE
    correctly-rounded in all three).

    Scale: synthesis + decode are one mapInPandas each (no shuffle);
    the only shuffle is none at all — stats are per-row."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from conveyor_spark.datapipe.codecs import png_encode

        grid = 13 * np.arange(8)[:, None] + np.arange(8)[None, :]
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "data": [
                    png_encode(((int(i) * 7 + grid) % 256).astype("uint8"))
                    for i in pdf["doc_id"]
                ],
            })

    imgs = d.mapInPandas(synth, "doc_id LONG, data BINARY")
    out = _op("media.pixel_stats", ctx, [imgs], column="data",
              on_error="fail")
    for name, expr in [
        ("width", "pixel_stats.width"), ("height", "pixel_stats.height"),
        ("channels", "pixel_stats.channels"),
        ("mean_v", "pixel_stats.mean[0]"), ("std_v", "pixel_stats.std[0]"),
        ("luminance", "pixel_stats.luminance"),
    ]:
        out = _op("map.apply", ctx, [out], expression=expr, output_column=name)
    return _op("select.apply", ctx, [out], columns=[
        "doc_id", "width", "height", "channels", "mean_v", "std_v",
        "luminance",
    ])


@query(
    "q105_py_eval_ast",
    """
    WITH w AS (
      SELECT doc_id,
             list_transform(
               regexp_split_to_array(trim(text), '\\s+'), t -> lower(t)
             ) AS words
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id,
           len(words) AS n_words,
           len(list_distinct(words)) AS n_unique,
           (len(words) * 1000) // len(list_distinct(words)) AS rep_permille
    FROM w
    """,
)
def q105_py_eval_ast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """py.eval with engine='ast': the embedded micro-interpreter
    (py_ast.py — the reference's WASM-sandboxed js.eval analogue,
    plugins-wasm lib.rs:61-72) runs a loop+dict+method script per row
    with NO CPython exec anywhere, and the oracle recomputes the
    same statistics in SQL. Integer-only outputs keep the hash
    comparison exact."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    d = _op("filter.apply", ctx, [d], column="n_chars", operator=">", value=0)
    script = (
        "def transform(row):\n"
        "    words = [w.lower() for w in row['text'].split()]\n"
        "    seen = set()\n"
        "    for w in words:\n"
        "        seen.add(w)\n"
        "    return {'doc_id': row['doc_id'], 'n_words': len(words),\n"
        "            'n_unique': len(seen),\n"
        "            'rep_permille': (len(words) * 1000) // len(seen)}\n"
    )
    return _op("py.eval", ctx, [d], script=script, engine="ast",
               output_schema="doc_id BIGINT, n_words INT, n_unique INT, "
                             "rep_permille BIGINT")


@query(
    "q106_audio_pcm_stats",
    """
    WITH s AS (
      SELECT d.doc_id,
             (((d.doc_id * 31 + t.t * 7) % 2001) - 1000)::DOUBLE AS v
      FROM documents d, (SELECT unnest(range(64)) AS t) t
    )
    SELECT doc_id,
           8000 AS sample_rate, 1 AS channels,
           64::BIGINT AS n_frames, 8 AS duration_ms,
           MAX(abs(v))::INT AS peak,
           SUM(v) / 64 AS mean_v,
           sqrt(SUM(v * v) / 64) AS rms
    FROM s GROUP BY doc_id
    """,
)
def q106_audio_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV/PCM decode, hash-exact (audio sibling of q104): each
    doc_id becomes a 64-sample mono PCM16 wave with sample
    ((doc_id*31 + 7t) % 2001) - 1000, encoded with the pure-Python
    encoder, decoded by audio.pcm_stats; the oracle computes the same
    levels analytically from the sample formula (integer samples,
    n=64 a power of two -> every intermediate is a dyadic rational,
    sqrt IEEE-rounded: bit-equal across Spark/numpy/DuckDB)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from conveyor_spark.datapipe.codecs import wav_encode

        t = 7 * np.arange(64, dtype=np.int64)
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "data": [
                    wav_encode(
                        (((int(i) * 31 + t) % 2001) - 1000).astype("int16"),
                        8000,
                    )
                    for i in pdf["doc_id"]
                ],
            })

    wavs = d.mapInPandas(synth, "doc_id LONG, data BINARY")
    out = _op("audio.pcm_stats", ctx, [wavs], column="data", on_error="fail")
    for name, expr in [
        ("sample_rate", "pcm_stats.sample_rate"),
        ("channels", "pcm_stats.channels"),
        ("n_frames", "pcm_stats.n_frames"),
        ("duration_ms", "pcm_stats.duration_ms"),
        ("peak", "pcm_stats.peak"), ("mean_v", "pcm_stats.mean"),
        ("rms", "pcm_stats.rms"),
    ]:
        out = _op("map.apply", ctx, [out], expression=expr, output_column=name)
    return _op("select.apply", ctx, [out], columns=[
        "doc_id", "sample_rate", "channels", "n_frames", "duration_ms",
        "peak", "mean_v", "rms",
    ])


@query(
    "q107_dedup_hamming",
    # pair the q45 signatures brute-force; the banded op must match
    # EXACTLY (pigeonhole: bands = d+1 has full recall at distance d)
    f"""
    WITH fp AS ({_emb_lsh_oracle()})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           bit_count(xor(a.lsh_sig, b.lsh_sig))::INT AS distance
    FROM fp a JOIN fp b ON a.vec_id < b.vec_id
    WHERE bit_count(xor(a.lsh_sig, b.lsh_sig)) <= 2
    """,
)
def q107_dedup_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.hamming: the pairing half of fingerprint near-dup
    (feeds from dedup.simhash, media.phash, or — here — the
    embedding.lsh signatures of q45): banded (band, block) equi-join
    with pigeonhole-EXACT recall at max_distance, verified by one
    codegen'd bit_count(a ^ b). The oracle computes the same pairs
    by brute-force cross join over the same signatures, so a hash
    match proves the banding loses nothing. Hamming-close LSH
    signatures <=> cosine-close vectors, so this is also the
    signature-only (no-vector-shuffle) coarse pass of embedding
    dedup."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    sigs = _op("embedding.lsh", ctx, [e], column="embedding", bits=16, dim=64)
    sigs = _op("select.apply", ctx, [sigs], columns=["vec_id", "lsh_sig"])
    return _op("dedup.hamming", ctx, [sigs], id_column="vec_id",
               fingerprint_column="lsh_sig", bits=16, max_distance=2)


@query(
    "q108_url_normalize",
    # analytic oracle: construct the EXPECTED canonical form directly
    # from doc_id — independent of any SQL re-implementation of the
    # normalizer
    """
    SELECT doc_id,
           CASE doc_id % 3
             WHEN 0 THEN 'http://www.site' || CAST(doc_id % 5 AS VARCHAR)
                  || '.com/p/' || CAST(doc_id AS VARCHAR)
                  || '?a=1&b=' || CAST(doc_id % 7 AS VARCHAR)
             WHEN 1 THEN 'https://example.com/x/y?z=' || CAST(doc_id AS VARCHAR)
             ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
           END AS url
    FROM documents
    """,
)
def q108_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """url.normalize: web-corpus URL canonicalization (scheme/host
    case, default ports, fragments, utm_*/click-id params, param
    order, trailing slash) as pure codegen'd string expressions. The
    query synthesizes messy URL variants from doc_id and the oracle
    states the expected canonical string analytically."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    messy = (
        "CASE CAST(doc_id % 3 AS INT) "
        "WHEN 0 THEN 'HTTP://WWW.Site' || CAST(doc_id % 5 AS STRING) "
        "  || '.COM:80/p/' || CAST(doc_id AS STRING) "
        "  || '/?utm_source=t&b=' || CAST(doc_id % 7 AS STRING) || '&a=1#frag' "
        "WHEN 1 THEN 'https://Example.COM:443/x/y?z=' || CAST(doc_id AS STRING) "
        "ELSE '  not a url ' || CAST(doc_id AS STRING) || '  ' END"
    )
    d = _op("map.apply", ctx, [d], expression=messy, output_column="url")
    out = _op("url.normalize", ctx, [d], column="url")
    return _op("select.apply", ctx, [out], columns=["doc_id", "url"])


@query(
    "q109_gif_pixel_stats",
    """
    WITH px AS (
      SELECT d.doc_id,
             ((d.doc_id * 7 + 13 * g.y + g.x) % 256)::DOUBLE AS p
      FROM documents d,
           (SELECT x.x, y.y
            FROM (SELECT unnest(range(8)) AS x) x,
                 (SELECT unnest(range(8)) AS y) y) g
    )
    SELECT doc_id,
           8 AS width, 8 AS height, 3 AS channels,
           SUM(p) / 64 AS mean_v,
           sqrt(SUM(p * p) / 64 - (SUM(p) / 64) * (SUM(p) / 64)) AS std_v,
           0.299 * (SUM(p) / 64) + 0.587 * (SUM(p) / 64)
               + 0.114 * (SUM(p) / 64) AS luminance
    FROM px GROUP BY doc_id
    """,
)
def q109_gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode, hash-exact: the q104 image per doc_id encoded
    as a GIF (gray palette + REAL LZW compression) instead of a PNG,
    then media.pixel_stats LZW-decodes + palette-maps the bytes. The
    gray palette expands to 3 equal RGB channels, so channels=3 and
    luminance goes through the BT.601 weights — the oracle computes
    the identical expression analytically (same IEEE ops, same
    order). A value match proves the whole GIF encode->LZW->decode->
    palette->stats path bit-exactly, complementing q104's
    inflate/unfilter proof with the OTHER compression family.

    Scale: synthesis + decode are each one mapInPandas; no shuffle —
    stats are per-row."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from conveyor_spark.datapipe.codecs import gif_encode

        grid = 13 * np.arange(8)[:, None] + np.arange(8)[None, :]
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "data": [
                    gif_encode(((int(i) * 7 + grid) % 256).astype("uint8"))
                    for i in pdf["doc_id"]
                ],
            })

    imgs = d.mapInPandas(synth, "doc_id LONG, data BINARY")
    out = _op("media.pixel_stats", ctx, [imgs], column="data",
              on_error="fail")
    for name, expr in [
        ("width", "pixel_stats.width"), ("height", "pixel_stats.height"),
        ("channels", "pixel_stats.channels"),
        ("mean_v", "pixel_stats.mean[0]"), ("std_v", "pixel_stats.std[0]"),
        ("luminance", "pixel_stats.luminance"),
    ]:
        out = _op("map.apply", ctx, [out], expression=expr, output_column=name)
    return _op("select.apply", ctx, [out], columns=[
        "doc_id", "width", "height", "channels", "mean_v", "std_v",
        "luminance",
    ])


@query(
    "q110_jpeg_pixel_stats",
    """
    WITH v AS (
      SELECT doc_id,
             (doc_id % 256)::DOUBLE AS v1,
             ((doc_id * 7 + 13) % 256)::DOUBLE AS v2,
             ((doc_id * 31 + 5) % 256)::DOUBLE AS v3,
             (255 - doc_id % 256)::DOUBLE AS v4
      FROM documents
    )
    SELECT doc_id,
           16 AS width, 16 AS height, 1 AS channels,
           (v1 + v2 + v3 + v4) / 4 AS mean_v,
           sqrt((v1*v1 + v2*v2 + v3*v3 + v4*v4) / 4
                - ((v1 + v2 + v3 + v4) / 4) * ((v1 + v2 + v3 + v4) / 4))
               AS std_v,
           (v1 + v2 + v3 + v4) / 4 AS luminance
    FROM v
    """,
)
def q110_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, hash-exact: each doc_id becomes a
    16x16 gray JPEG of four constant 8x8 quadrants (values derived
    from doc_id), encoded at quality 75 — where the luma DC quant
    step is exactly 8, so the (v-128)*8 DC term survives
    quantization bit-perfectly and decode returns the EXACT quadrant
    values (pytest pins this island; lossy-path fidelity is asserted
    separately with bounded error). media.pixel_stats then
    Huffman-decodes + IDCTs the bytes; the oracle computes the same
    statistics analytically from the quadrant values — a value match
    proves the whole JFIF emit->Huffman->dequant->IDCT->stats path.
    Quadrant DCs DIFFER, so the DC-prediction chain across blocks is
    exercised, not just isolated blocks.

    Scale: synthesis + decode are each one mapInPandas; no shuffle —
    stats are per-row."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from conveyor_spark.datapipe.jpeg import jpeg_encode

        cache: dict[int, bytes] = {}

        def img(i: int) -> bytes:
            # every quadrant is a function of i mod 256, so the image
            # family has period 256 — encode each distinct image once
            k = i % 256
            got = cache.get(k)
            if got is None:
                m = np.zeros((16, 16), dtype=np.uint8)
                m[:8, :8] = k
                m[:8, 8:] = (i * 7 + 13) % 256
                m[8:, :8] = (i * 31 + 5) % 256
                m[8:, 8:] = 255 - k
                got = cache[k] = jpeg_encode(m, quality=75)
            return got

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "data": [img(int(i)) for i in pdf["doc_id"]],
            })

    imgs = d.mapInPandas(synth, "doc_id LONG, data BINARY")
    out = _op("media.pixel_stats", ctx, [imgs], column="data",
              on_error="fail")
    for name, expr in [
        ("width", "pixel_stats.width"), ("height", "pixel_stats.height"),
        ("channels", "pixel_stats.channels"),
        ("mean_v", "pixel_stats.mean[0]"), ("std_v", "pixel_stats.std[0]"),
        ("luminance", "pixel_stats.luminance"),
    ]:
        out = _op("map.apply", ctx, [out], expression=expr, output_column=name)
    return _op("select.apply", ctx, [out], columns=[
        "doc_id", "width", "height", "channels", "mean_v", "std_v",
        "luminance",
    ])


@query(
    "q111_pagerank",
    """
    WITH edges AS (
      SELECT DISTINCT l.l_suppkey AS src,
             o.o_custkey + 10000000 AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    deg AS (SELECT src, COUNT(*)::BIGINT AS deg FROM edges GROUP BY src),
    n AS (SELECT COUNT(*)::BIGINT AS n FROM nodes),
    consts AS (
      SELECT (1000000000000 * 1500) // (10000 * n) AS base FROM n
    ),
    r0 AS (SELECT node, 1000000000000 // n.n AS rank FROM nodes, n),
    r1 AS (
      SELECT v.node, (SELECT base FROM consts)
             + COALESCE(s.inflow, 0) AS rank
      FROM nodes v
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM((r.rank * 8500) // (10000 * d.deg)) AS BIGINT)
                   AS inflow
        FROM edges e
        JOIN deg d USING (src)
        JOIN r0 r ON r.node = e.src
        GROUP BY e.dst
      ) s USING (node)
    ),
    r2 AS (
      SELECT v.node, (SELECT base FROM consts)
             + COALESCE(s.inflow, 0) AS rank
      FROM nodes v
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM((r.rank * 8500) // (10000 * d.deg)) AS BIGINT)
                   AS inflow
        FROM edges e
        JOIN deg d USING (src)
        JOIN r1 r ON r.node = e.src
        GROUP BY e.dst
      ) s USING (node)
    ),
    r3 AS (
      SELECT v.node, (SELECT base FROM consts)
             + COALESCE(s.inflow, 0) AS rank
      FROM nodes v
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM((r.rank * 8500) // (10000 * d.deg)) AS BIGINT)
                   AS inflow
        FROM edges e
        JOIN deg d USING (src)
        JOIN r2 r ON r.node = e.src
        GROUP BY e.dst
      ) s USING (node)
    ),
    r4 AS (
      SELECT v.node, (SELECT base FROM consts)
             + COALESCE(s.inflow, 0) AS rank
      FROM nodes v
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM((r.rank * 8500) // (10000 * d.deg)) AS BIGINT)
                   AS inflow
        FROM edges e
        JOIN deg d USING (src)
        JOIN r3 r ON r.node = e.src
        GROUP BY e.dst
      ) s USING (node)
    ),
    r5 AS (
      SELECT v.node, (SELECT base FROM consts)
             + COALESCE(s.inflow, 0) AS rank
      FROM nodes v
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM((r.rank * 8500) // (10000 * d.deg)) AS BIGINT)
                   AS inflow
        FROM edges e
        JOIN deg d USING (src)
        JOIN r4 r ON r.node = e.src
        GROUP BY e.dst
      ) s USING (node)
    )
    SELECT node, rank FROM r5
    """,
)
def q111_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph.pagerank precision='exact' over the supplier->customer
    ship graph (distinct (l_suppkey, o_custkey) pairs; customer ids
    offset so the bipartite sides stay distinct nodes). Fixed-point
    integer arithmetic makes the power iteration bit-reproducible
    across partitionings, retries, AND engines — the oracle unrolls
    the identical integer recurrence five times in SQL and must
    hash-match exactly. Float pagerank could never pass this gate
    (partition merge order changes final ulps); that is precisely
    why the exact mode exists for reproducible pipelines.

    Scale: one equi-join + one aggregation per iteration, lineage
    truncated per round via localCheckpoint (the dedup.components
    pattern)."""
    ctx = _ctx(spark)
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    o = _op("map.apply", ctx, [o], expression="o_orderkey",
            output_column="l_orderkey")
    j = _op("join.apply", ctx, [l, o], on="l_orderkey", how="inner",
            broadcast=False)
    j = _op("map.apply", ctx, [j], expression="CAST(l_suppkey AS BIGINT)",
            output_column="src")
    j = _op("map.apply", ctx, [j],
            expression="CAST(o_custkey + 10000000 AS BIGINT)",
            output_column="dst")
    edges = _op("select.apply", ctx, [j], columns=["src", "dst"])
    return _op("graph.pagerank", ctx, [edges], iterations=5,
               precision="exact")


@query(
    "q112_bpe_saturated",
    """
    SELECT doc_id,
           len(list_filter(
               regexp_extract_all(lower(text),
                                  '[a-z0-9]+|[^ \\t\\n\\x0b\\f\\ra-z0-9]'),
               x -> x != ''))::INT AS n_bpe_tokens
    FROM documents
    """,
)
def q112_bpe_saturated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.bpe_train -> text.bpe_encode at SATURATION: n_merges is
    set past the corpus vocabulary's total merge budget, so training
    runs until every distinct word fully merges into a single token
    and encode must therefore emit exactly one token per word — a
    SQL-expressible invariant (n_bpe_tokens == regex word count)
    that hash-checks the whole distributed-count -> driver merge
    loop -> broadcast greedy-encode path end-to-end. Every word
    re-merges through its full ranked chain at encode time, so the
    lowest-rank selection loop is exercised on every row; the
    non-degenerate limited-merge behavior is pinned by the
    differential Hypothesis suite (tests/test_bpe.py) against a
    recount-from-scratch reference.

    Scale: one explode+groupBy corpus pass, compact driver loop,
    pure-map encode (no shuffle)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = _op("text.bpe_train", ctx, [d], column="text", n_merges=5000)
    out = _op("text.bpe_encode", ctx, [d, merges], column="text")
    return _op("select.apply", ctx, [out], columns=["doc_id", "n_bpe_tokens"])


@query(
    "q113_dedup_substring",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x != '') AS t
      FROM documents
    ),
    base AS (SELECT doc_id, t FROM toks WHERE len(t) >= 15),
    posts AS (
      SELECT doc_id AS id, pos,
             array_to_string(t[pos+1 : pos+15], ' ') AS g
      FROM base, LATERAL (SELECT unnest(range(len(t) - 14)) AS pos) p
    ),
    stats AS (SELECT g, COUNT(DISTINCT id) AS df FROM posts GROUP BY g),
    cap AS (
      SELECT greatest(CAST(floor(0.05 * (SELECT COUNT(*) FROM base))
                           AS BIGINT), 1) AS c
    ),
    pp AS (
      SELECT posts.* FROM posts JOIN stats USING (g), cap
      WHERE stats.df <= cap.c
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, a.pos AS pos_a, b.pos AS pos_b
      FROM pp a JOIN pp b ON a.g = b.g AND a.id < b.id
    ),
    isl AS (
      SELECT id_a, id_b, pos_a, pos_b,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
             ) AS island
      FROM pairs
    )
    SELECT id_a, id_b,
           MIN(pos_a)::INT AS start_a, MIN(pos_b)::INT AS start_b,
           (COUNT(*) + 14)::INT AS length
    FROM isl GROUP BY id_a, id_b, pos_a - pos_b, island
    """,
)
def q113_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.substring: maximal cross-document duplicate token spans
    >= 15 tokens (the Lee-et-al exact-substring dedup pass, as
    relational algebra: gram postings -> hot-gram pruning ->
    hash-join -> gaps-and-islands per diagonal -> slice-verify). The
    oracle replays the identical construction on gram STRINGS (no
    hash), so a hash match also certifies the 60-bit portable-hash
    join introduced no collision at this scale; the verify join
    makes the op exact even when one does.

    Scale: postings are skinny (hash, id, pos) triples; the islands
    window partitions by (pair, diagonal) — never global."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    return _op("dedup.substring", ctx, [d], column="text",
               id_column="doc_id", min_length=15, max_df=0.05)


@query(
    "q114_substring_cut",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x != '') AS t
      FROM documents
    ),
    base AS (SELECT doc_id, t FROM toks WHERE len(t) >= 15),
    posts AS (
      SELECT doc_id AS id, pos,
             array_to_string(t[pos+1 : pos+15], ' ') AS g
      FROM base, LATERAL (SELECT unnest(range(len(t) - 14)) AS pos) p
    ),
    stats AS (SELECT g, COUNT(DISTINCT id) AS df FROM posts GROUP BY g),
    cap AS (
      SELECT greatest(CAST(floor(0.05 * (SELECT COUNT(*) FROM base))
                           AS BIGINT), 1) AS c
    ),
    pp AS (
      SELECT posts.* FROM posts JOIN stats USING (g), cap
      WHERE stats.df <= cap.c
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, a.pos AS pos_a, b.pos AS pos_b
      FROM pp a JOIN pp b ON a.g = b.g AND a.id < b.id
    ),
    isl AS (
      SELECT id_a, id_b, pos_a, pos_b,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
             ) AS island
      FROM pairs
    ),
    spans AS (
      SELECT id_a, id_b, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
             COUNT(*) + 14 AS length
      FROM isl GROUP BY id_a, id_b, pos_a - pos_b, island
    ),
    rng AS (
      SELECT id_b AS id, list({'s': start_b, 'l': length}) AS rs
      FROM spans GROUP BY id_b
    ),
    cut AS (
      SELECT d.doc_id, d.t,
             COALESCE(r.rs, CAST([] AS STRUCT(s BIGINT, l BIGINT)[])) AS rs
      FROM toks d LEFT JOIN rng r ON r.id = d.doc_id
    )
    SELECT doc_id,
           -- DuckDB's array_to_string([]) is NULL; Spark's
           -- array_join([]) is '' — align on ''
           COALESCE(array_to_string(
             list_transform(
               list_filter(range(len(t)),
                 i -> len(list_filter(rs,
                      x -> i >= x.s AND i < x.s + x.l)) = 0),
               i -> t[i+1]), ' '), '') AS text,
           (len(t) - len(list_filter(range(len(t)),
               i -> len(list_filter(rs,
                    x -> i >= x.s AND i < x.s + x.l)) = 0)))::INT
               AS n_cut_tokens
    FROM cut
    """,
)
def q114_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The detect -> cut capstone: dedup.substring finds every
    maximal >= 15-token duplicate span, then text.cut_spans removes
    the duplicated ranges from the LATER doc of each pair (id_b),
    leaving one canonical copy in the corpus. The oracle replays
    both stages in SQL — including the list-lambda token filter —
    and must match the cut TEXT itself hash-exactly, not just
    counts. Docs shorter than the gram or span-free pass through
    re-tokenized (normalized single spacing) on both engines."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    spans = _op("dedup.substring", ctx, [d], column="text",
                id_column="doc_id", min_length=15, max_df=0.05)
    out = _op("text.cut_spans", ctx, [d, spans], column="text",
              id_column="doc_id")
    return _op("select.apply", ctx, [out],
               columns=["doc_id", "text", "n_cut_tokens"])


@query(
    "q115_sample_mixture",
    """
    WITH even AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
    odd AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1)
    SELECT doc_id, 0 AS mix_source, 0 AS mix_epoch FROM even
    UNION ALL
    SELECT doc_id, 0, 1 FROM even
    WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)
           || '#mixture#0#1'), 1, 15))::BIGINT) % 1000000 < 500000
    UNION ALL
    SELECT doc_id, 1, 0 FROM odd
    WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)
           || '#mixture#1#0'), 1, 15))::BIGINT) % 1000000 < 500000
    """,
)
def q115_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample.mixture: Pile/Dolma-style source weighting — source 0
    (even doc ids) at 1.5 epochs, source 1 (odd) at 0.5. The partial
    epochs select rows by portable hash of (id, seed, source, epoch),
    which the oracle replays literally: the mixture is a pure
    function of ids, reproducible across runs/partitionings/engines
    (the property a training-data freeze needs — rerunning the
    pipeline reproduces the exact same token stream)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    even = _op("filter.apply", ctx, [d], expr="doc_id % 2 = 0")
    odd = _op("filter.apply", ctx, [d], expr="doc_id % 2 = 1")
    out = _op("sample.mixture", ctx, [even, odd], weights=[1.5, 0.5],
              id_column="doc_id")
    return _op("select.apply", ctx, [out],
               columns=["doc_id", "mix_source", "mix_epoch"])


@query(
    "q116_stats_correlation",
    """
    WITH nn AS (SELECT COUNT(*)::DOUBLE AS n FROM lineitem)
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
             (n * CAST(SUM(CAST(l_quantity AS DECIMAL(18,3)) * CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE)
              - CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE))
             / sqrt((n * CAST(SUM(CAST(l_quantity AS DECIMAL(18,3)) * CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE)
                     - CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE))
                    * (n * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3)) * CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE)
                       - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE)))
             AS corr
      FROM lineitem, nn GROUP BY n
      UNION ALL
      SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b,
             (n * CAST(SUM(CAST(l_quantity AS DECIMAL(18,3)) * CAST(l_discount AS DECIMAL(18,3))) AS DOUBLE)
              - CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) * CAST(SUM(CAST(l_discount AS DECIMAL(18,3))) AS DOUBLE))
             / sqrt((n * CAST(SUM(CAST(l_quantity AS DECIMAL(18,3)) * CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE)
                     - CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE))
                    * (n * CAST(SUM(CAST(l_discount AS DECIMAL(18,3)) * CAST(l_discount AS DECIMAL(18,3))) AS DOUBLE)
                       - CAST(SUM(CAST(l_discount AS DECIMAL(18,3))) AS DOUBLE) * CAST(SUM(CAST(l_discount AS DECIMAL(18,3))) AS DOUBLE)))
             AS corr
      FROM lineitem, nn GROUP BY n
      UNION ALL
      SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b,
             (n * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3)) * CAST(l_discount AS DECIMAL(18,3))) AS DOUBLE)
              - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE) * CAST(SUM(CAST(l_discount AS DECIMAL(18,3))) AS DOUBLE))
             / sqrt((n * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3)) * CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE)
                     - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE))
                    * (n * CAST(SUM(CAST(l_discount AS DECIMAL(18,3)) * CAST(l_discount AS DECIMAL(18,3))) AS DOUBLE)
                       - CAST(SUM(CAST(l_discount AS DECIMAL(18,3))) AS DOUBLE) * CAST(SUM(CAST(l_discount AS DECIMAL(18,3))) AS DOUBLE)))
             AS corr
      FROM lineitem, nn GROUP BY n
    """,
)
def q116_stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats.correlation: the full pairwise Pearson matrix over
    lineitem's money columns in ONE aggregate pass. Exact-moments
    determinism (the anomaly.zscore pattern): all sums accumulate at
    DECIMAL(18,3) — products stay inside 38 digits, so the moments
    are exact in any engine/partition order — and corr is the same
    double expression over those exact values on both engines,
    hash-identical to the last bit. (Naive corr() built on double
    accumulators could never pass this gate: partition merge order
    moves the result.)"""
    ctx = _ctx(spark)
    l = load_table(spark, sf_dir, "lineitem")
    return _op("stats.correlation", ctx, [l],
               columns=["l_quantity", "l_extendedprice", "l_discount"])


@query(
    "q117_text_perplexity",
    f"""
    WITH tk AS (SELECT doc_id, lang, {_SQL_TOKENS} AS tk FROM documents),
    ref AS (SELECT tk FROM tk WHERE lang = 'en'),
    uni AS (SELECT t AS w, COUNT(*)::BIGINT AS cw
            FROM (SELECT unnest(tk) AS t FROM ref) GROUP BY t),
    v AS (SELECT COUNT(*)::BIGINT AS v FROM uni),
    rpos AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM ref),
    big AS (SELECT g, COUNT(*)::BIGINT AS cg
            FROM (SELECT tk[i] || ' ' || tk[i + 1] AS g FROM rpos) GROUP BY g),
    cpos AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM tk),
    cgr AS (SELECT doc_id, i, tk[i] || ' ' || tk[i + 1] AS g, tk[i] AS ctx
            FROM cpos),
    sc AS (SELECT c.doc_id, c.i,
                  ln((COALESCE(b.cg, 0) + 1.0)
                     / (COALESCE(u.cw, 0) + 1.0 * v.v)) AS lp
           FROM cgr c
           LEFT JOIN big b ON c.g = b.g
           LEFT JOIN uni u ON c.ctx = u.w
           CROSS JOIN v),
    agg AS (SELECT doc_id, COUNT(*)::INT AS lm_ngrams,
                   round(-list_reduce(list_prepend(0.0::DOUBLE,
                             list(lp ORDER BY i)), (a, b) -> a + b)
                         / COUNT(*), 9) AS nll
            FROM sc GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(a.lm_ngrams, 0)::INT AS lm_ngrams, a.nll
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
)
def q117_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.perplexity: CCNet-style LM quality scoring — an add-1
    bigram LM is trained on the 'en' cohort (the trusted reference)
    and every document is scored by mean -ln P(w|prev). Exact-count
    moments + fixed-order fold make the nll hash-identical across
    engines (the determinism that made text.freq_score avoid logs —
    see scoring.py). Real pipelines threshold nll to keep the fluent
    head of the corpus."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    ref = _op("filter.apply", ctx, [d], expr="lang = 'en'")
    out = _op("text.perplexity", ctx, [d, ref],
              column="text", id_column="doc_id", order=2)
    return _op("select.apply", ctx, [out],
               columns=["doc_id", "lm_ngrams", "nll"])


# the offline-trained "quality classifier" weights for q118: database
# words up-weighted, filler down — a stand-in for a fasttext export
_Q118_WEIGHTS = [
    ("join", 1.5), ("hash", 1.2), ("merge", 0.8), ("scan", 0.6),
    ("the", -0.3), ("a", -0.4), ("slow", -1.0), ("dup", -2.0),
]
_Q118_W_SQL = ", ".join(f"('{t}', {w})" for t, w in _Q118_WEIGHTS)


@query(
    "q118_classify_linear",
    f"""
    WITH w(term, weight) AS (VALUES {_Q118_W_SQL}),
    tk AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    tok AS (SELECT doc_id, unnest(tk) AS t FROM tk),
    tf AS (SELECT doc_id, t, COUNT(*)::BIGINT AS tf
           FROM tok GROUP BY doc_id, t),
    lens AS (SELECT doc_id, SUM(tf)::BIGINT AS len FROM tf GROUP BY doc_id),
    c AS (SELECT tf.doc_id, tf.t, tf.tf * w.weight AS c
          FROM tf JOIN w ON tf.t = w.term),
    dot AS (SELECT doc_id,
                   list_reduce(list_prepend(0.0::DOUBLE,
                       list(c ORDER BY t)), (a, b) -> a + b) AS dot
            FROM c GROUP BY doc_id),
    sc AS (SELECT l.doc_id, round(d.dot / l.len + -0.05, 9) + 0.0 AS logit
           FROM dot d JOIN lens l ON d.doc_id = l.doc_id)
    SELECT d.doc_id,
           COALESCE(sc.logit, -0.05) AS logit,
           COALESCE(sc.logit, -0.05) > 0 AS predicted
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    """,
)
def q118_classify_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classify.linear: quality-classifier inference (the GPT-3/LLaMA
    'trained classifier' corpus filter) — a fixed (term, weight)
    table stands in for the offline-trained model; the op computes
    the tf-weighted mean logit per document and a predicted label.
    Exactness: int64 tf x double weight per term, folded in term
    order; the oracle replays the identical fold."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    w = spark.createDataFrame(_Q118_WEIGHTS, "term STRING, weight DOUBLE")
    out = _op("classify.linear", ctx, [d, w],
              column="text", id_column="doc_id", mode="mean", bias=-0.05)
    return _op("select.apply", ctx, [out],
               columns=["doc_id", "logit", "predicted"])


_Q119_QUERIES = [
    (1, "hash join order"),
    (2, "stream window batch"),
    (3, "slow table scan merge"),
]
_Q119_Q_SQL = ", ".join(f"({i}, '{q}')" for i, q in _Q119_QUERIES)


@query(
    "q119_rank_bm25",
    f"""
    WITH q(query_id, query) AS (VALUES {_Q119_Q_SQL}),
    tk AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    tok AS (SELECT doc_id, unnest(tk) AS t FROM tk),
    postings AS (SELECT doc_id, t, COUNT(*)::BIGINT AS tf
                 FROM tok GROUP BY doc_id, t),
    dl AS (SELECT doc_id, SUM(tf)::BIGINT AS dl FROM postings GROUP BY doc_id),
    dft AS (SELECT t, COUNT(*)::BIGINT AS df FROM postings GROUP BY t),
    sca AS (SELECT COUNT(*)::BIGINT AS n, SUM(dl)::BIGINT AS toks FROM dl),
    qt AS (SELECT DISTINCT query_id,
                  unnest(list_distinct(list_filter(
                      string_split_regex(lower(query), '\\s+'),
                      x -> x <> ''))) AS t
           FROM q),
    cand AS (SELECT qt.query_id, qt.t,
                    ln(1.0 + (sca.n - dft.df + 0.5) / (dft.df + 0.5)) AS idf,
                    sca.n, sca.toks
             FROM qt JOIN dft ON qt.t = dft.t CROSS JOIN sca),
    pt AS (SELECT c.query_id, p.doc_id, c.t,
                  c.idf * (p.tf * 2.2
                      / (p.tf + 1.2 * (0.25 + 0.75 * dl.dl
                                       / (c.toks / CAST(c.n AS DOUBLE))))) AS ct
           FROM cand c
           JOIN postings p ON c.t = p.t
           JOIN dl ON p.doc_id = dl.doc_id),
    sc AS (SELECT query_id, doc_id,
                  round(list_reduce(list_prepend(0.0::DOUBLE,
                      list(ct ORDER BY t)), (a, b) -> a + b), 9) AS score
           FROM pt GROUP BY query_id, doc_id),
    rk AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id)::INT AS rank
           FROM sc)
    SELECT query_id, doc_id, score, rank FROM rk WHERE rank <= 10
    """,
)
def q119_rank_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank.bm25: retrieval-style corpus selection — BM25 top-10 docs
    per query over the corpus (DSIR-flavored targeted sampling /
    benchmark-adjacent data discovery). All counts int64, idf/tf
    terms one double expression each, per-pair score folded in term
    order, ties on doc_id — the oracle replays the identical
    arithmetic; a hash match proves the whole posting/df/avgdl
    pipeline."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(_Q119_QUERIES, "query_id INT, query STRING")
    return _op("rank.bm25", ctx, [d, q],
               column="text", id_column="doc_id", top_k=10)


def _kmeans_cte(k: int, iterations: int, dim: int = 64) -> tuple[str, str]:
    """Unroll Lloyd's algorithm as DuckDB CTEs, replaying clustering.py
    bit-for-bit: same first-k-by-id init, same left-to-right squared-
    distance fold, same lowest-index tie break, same floor-quantized
    int64 centroid sums (see clustering.py's determinism contract).
    Returns (cte_block, final_assignment_cte) so composition queries
    (q125 trained-IVF) can build on the assignments."""
    blocks = [
        # init centroids: first k vectors by id, promoted to double
        f"""c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS c,
               list_transform(v, x -> x::DOUBLE) AS cv
        FROM (SELECT vec_id, embedding AS v FROM embeddings
              ORDER BY vec_id LIMIT {k}))"""
    ]
    for t in range(1, iterations + 1):
        prev = f"c{t - 1}"
        blocks.append(f"""d{t} AS (
        SELECT e.vec_id, e.v, {prev}.c,
               list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(range(1, {dim + 1}),
                       i -> (e.v[i]::DOUBLE - {prev}.cv[i])
                            * (e.v[i]::DOUBLE - {prev}.cv[i]))),
                   (a, b) -> a + b) AS dist
        FROM e CROSS JOIN {prev})""")
        blocks.append(f"""a{t} AS (
        SELECT vec_id, v, c FROM (
            SELECT vec_id, v, c,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, c) AS rn
            FROM d{t}) WHERE rn = 1)""")
        if t < iterations:
            blocks.append(f"""s{t} AS (
        SELECT a.c, dims.i,
               SUM(floor(a.v[dims.i]::DOUBLE * 1048576.0)::BIGINT) AS s,
               COUNT(*)::BIGINT AS n
        FROM a{t} a CROSS JOIN
             (SELECT unnest(range(1, {dim + 1})) AS i) dims
        GROUP BY a.c, dims.i)""")
            blocks.append(f"""c{t} AS (
        SELECT c0.c,
               COALESCE(m.cv, (SELECT cv FROM c{t - 1} p
                               WHERE p.c = c0.c)) AS cv
        FROM c0 LEFT JOIN (
            SELECT c, list(s::DOUBLE / (1048576.0 * n) ORDER BY i) AS cv
            FROM s{t} GROUP BY c) m ON c0.c = m.c)""")
    return (
        "e AS (SELECT vec_id, embedding AS v FROM embeddings),\n"
        + ",\n".join(blocks),
        f"a{iterations}",
    )


def _kmeans_oracle(k: int, iterations: int, dim: int = 64) -> str:
    ctes, final = _kmeans_cte(k, iterations, dim)
    return f"WITH {ctes}\nSELECT vec_id, c AS cluster FROM {final}"


@query("q120_embedding_kmeans", _kmeans_oracle(k=4, iterations=3))
def q120_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding.kmeans: 3 Lloyd iterations, k=4, over the embeddings
    table — the coarse-quantizer trainer for knn.ivf. The oracle
    unrolls the identical iterations in SQL; a hash match proves the
    whole loop (init, distance folds, argmin ties, floor-quantized
    centroid means) is partition-order-independent and engine-exact —
    the property MLlib's double-sum centroids do NOT have."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    out = _op("embedding.kmeans", ctx, [e], id_column="vec_id",
              column="embedding", k=4, iterations=3, dim=64)
    return _op("select.apply", ctx, [out], columns=["vec_id", "cluster"])


def _pq_train_cte(m: int, kw: int, iterations: int, dim: int,
                  prefix: str = "") -> tuple[list[str], str, str, str, str]:
    """CTE blocks replaying embedding.pq training + the post-loop
    encode in DuckDB: subspace split, per-subspace Lloyd iterations
    (clustering.py's floor-quantized int64 recipe), final argmin
    encode. Assumes an ``e AS (vec_id, v)`` CTE is already declared.
    ``prefix`` namespaces every CTE so the blocks can coexist with
    _kmeans_cte's (which uses the same c/d/a/s names) in one query
    (q163 IVFPQ). Returns (blocks, sub_name, codebook_cte, encode_cte,
    fold_dist_template)."""
    sd = dim // m
    p = prefix
    fold_dist = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {sd + 1}), "
        "i -> ({a}[i]::DOUBLE - {b}[i]) * ({a}[i]::DOUBLE - {b}[i]))), "
        "(x, y) -> x + y)"
    )
    blocks = [
        f"""{p}sub AS (SELECT vec_id, sp.s,
               list_slice(v, sp.s * {sd} + 1, (sp.s + 1) * {sd}) AS sv
        FROM e CROSS JOIN (SELECT unnest(range(0, {m}))::INT AS s) sp)""",
        f"""{p}c0 AS (SELECT s,
               (row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1)::INT AS j,
               list_transform(sv, x -> x::DOUBLE) AS cv
        FROM {p}sub WHERE vec_id IN
             (SELECT vec_id FROM e ORDER BY vec_id LIMIT {kw}))""",
    ]
    for t in range(1, iterations + 2):  # last pass = encode only
        prev = f"{p}c{t - 1}"
        blocks.append(f"""{p}d{t} AS (
        SELECT {p}sub.vec_id, {p}sub.s, {p}sub.sv, c.j,
               {fold_dist.format(a=f'{p}sub.sv', b='c.cv')} AS dist
        FROM {p}sub JOIN {prev} c ON {p}sub.s = c.s)""")
        blocks.append(f"""{p}a{t} AS (
        SELECT vec_id, s, sv, j FROM (
            SELECT vec_id, s, sv, j,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY dist, j) AS rn
            FROM {p}d{t}) WHERE rn = 1)""")
        if t <= iterations:
            blocks.append(f"""{p}s{t} AS (
        SELECT a.s, a.j, dims.i,
               SUM(floor(a.sv[dims.i]::DOUBLE * 1048576.0)::BIGINT) AS sm,
               COUNT(*)::BIGINT AS n
        FROM {p}a{t} a CROSS JOIN
             (SELECT unnest(range(1, {sd + 1})) AS i) dims
        GROUP BY a.s, a.j, dims.i)""")
            blocks.append(f"""{p}c{t} AS (
        SELECT {p}c0.s, {p}c0.j,
               COALESCE(u.cv, (SELECT cv FROM {prev} p
                               WHERE p.s = {p}c0.s AND p.j = {p}c0.j)) AS cv
        FROM {p}c0 LEFT JOIN (
            SELECT s, j, list(sm::DOUBLE / (1048576.0 * n) ORDER BY i) AS cv
            FROM {p}s{t} GROUP BY s, j) u
        ON {p}c0.s = u.s AND {p}c0.j = u.j)""")
    return (blocks, f"{p}sub", f"{p}c{iterations}",
            f"{p}a{iterations + 1}", fold_dist)


def _pq_oracle(m: int, kw: int, iterations: int, dim: int,
               nq: int, topk: int) -> str:
    """Replay knn.pq end-to-end in DuckDB: subspace split, per-
    subspace Lloyd training (clustering.py's floor-quantized int64
    recipe), post-loop encode, ADC distance tables, top-k. Generic
    over (vec_id, subspace) rows, so the SQL stays compact for any
    m/k."""
    blocks, sub, cb, enc, fold_dist = _pq_train_cte(m, kw, iterations, dim)
    blocks.append(f"""dt AS (
        SELECT q.vec_id AS qid, c.s, c.j,
               {fold_dist.format(a='q.sv', b='c.cv')} AS d
        FROM (SELECT * FROM {sub} WHERE vec_id < {nq}) q
        JOIN {cb} c ON q.s = c.s)""")
    blocks.append(f"""sc AS (
        SELECT dt.qid, a.vec_id,
               round(list_reduce(list_prepend(0.0::DOUBLE,
                   list(dt.d ORDER BY dt.s)), (x, y) -> x + y), 9) AS adc_dist
        FROM {enc} a JOIN dt ON a.s = dt.s AND a.j = dt.j
        GROUP BY dt.qid, a.vec_id)""")
    return (
        "WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),\n"
        + ",\n".join(blocks)
        + f"""
    SELECT qid AS query_vec_id, vec_id, adc_dist, rank FROM (
        SELECT qid, vec_id, adc_dist,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adc_dist, vec_id)::INT AS rank
        FROM sc) WHERE rank <= {topk}"""
    )


@query("q121_knn_pq",
       _pq_oracle(m=4, kw=4, iterations=2, dim=64, nq=5, topk=3))
def q121_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn.pq: product-quantization ANN end-to-end — per-subspace
    Lloyd training, post-loop encoding, asymmetric-distance (ADC)
    top-3 for 5 query vectors. The oracle replays the ENTIRE
    train/encode/search pipeline in SQL; a hash match certifies the
    whole PQ stack is partition-order-independent and engine-exact
    (the compression that makes billion-vector ANN RAM-feasible —
    corpus vectors move as m-byte codes, not dim floats)."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    q = _op("filter.apply", ctx, [e], expr="vec_id < 5")
    return _op("knn.pq", ctx, [e, q], id_column="vec_id",
               column="embedding", k=3, m=4, codewords=4, iterations=2, dim=64)


def _lm_nll_sql(prefix: str, ref_where: str) -> str:
    """CTE chunk computing per-doc bigram-LM nll (the q117 pipeline)
    with the reference corpus restricted by ``ref_where``; CTE names
    prefixed so two LMs can coexist in one query (q122's DSIR)."""
    p = prefix
    return f"""{p}ref AS (SELECT tk FROM tkall WHERE {ref_where}),
    {p}uni AS (SELECT t AS w, COUNT(*)::BIGINT AS cw
            FROM (SELECT unnest(tk) AS t FROM {p}ref) GROUP BY t),
    {p}v AS (SELECT COUNT(*)::BIGINT AS v FROM {p}uni),
    {p}rpos AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM {p}ref),
    {p}big AS (SELECT g, COUNT(*)::BIGINT AS cg
            FROM (SELECT tk[i] || ' ' || tk[i + 1] AS g FROM {p}rpos)
            GROUP BY g),
    {p}sc AS (SELECT c.doc_id, c.i,
                  ln((COALESCE(b.cg, 0) + 1.0)
                     / (COALESCE(u.cw, 0) + 1.0 * v.v)) AS lp
           FROM cgrall c
           LEFT JOIN {p}big b ON c.g = b.g
           LEFT JOIN {p}uni u ON c.ctx = u.w
           CROSS JOIN {p}v v),
    {p}nll AS (SELECT doc_id,
                   round(-list_reduce(list_prepend(0.0::DOUBLE,
                             list(lp ORDER BY i)), (a, b) -> a + b)
                         / COUNT(*), 9) AS nll
            FROM {p}sc GROUP BY doc_id)"""


@query(
    "q122_dsir_select",
    f"""
    WITH tkall AS (SELECT doc_id, lang, {_SQL_TOKENS} AS tk FROM documents),
    cposall AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM tkall),
    cgrall AS (SELECT doc_id, i, tk[i] || ' ' || tk[i + 1] AS g, tk[i] AS ctx
               FROM cposall),
    {_lm_nll_sql('t', "lang = 'en'")},
    {_lm_nll_sql('b', 'TRUE')}
    SELECT t.doc_id, t.nll AS nll_target, b.nll AS nll_base,
           b.nll - t.nll AS weight
    FROM tnll t JOIN bnll b ON t.doc_id = b.doc_id
    ORDER BY weight DESC, t.doc_id
    LIMIT 50
    """,
)
def q122_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style targeted selection (Xie et al.), composed from the
    scoring ops: importance weight = nll under the BASE LM (whole
    corpus) minus nll under the TARGET LM ('en' reference) — docs the
    target model likes more than the generic model score high — then
    take the top 50 (ties: doc id). Pure composition (two
    text.perplexity passes + map + TakeOrderedAndProject); the
    oracle replays both LMs and the log-ratio ranking."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    ref = _op("filter.apply", ctx, [d], expr="lang = 'en'")
    t = _op("text.perplexity", ctx, [d, ref], column="text",
            id_column="doc_id", order=2, output_column="nll_target")
    t = _op("select.apply", ctx, [t],
            columns=["doc_id", "text", "nll_target"])
    # the base-LM pass references its doc side twice (the candidate
    # explode AND the score join-back — _nll_finish's shape), and
    # here that doc side is the WHOLE target-LM pipeline: persist the
    # intermediate so the first LM scores once, not once per
    # reference (r13; recompute = a full LM scoring pass, exactly
    # guide §5's persist-when-reuse-beats-recompute case)
    t = ctx.persist(t)
    b = _op("text.perplexity", ctx, [t, d], column="text",
            id_column="doc_id", order=2, output_column="nll_base")
    b = _op("filter.apply", ctx, [b], expr="nll_target IS NOT NULL")
    w = _op("map.apply", ctx, [b], expression="nll_base - nll_target",
            output_column="weight")
    w = _op("select.apply", ctx, [w],
            columns=["doc_id", "nll_target", "nll_base", "weight"])
    return _op("sort.apply", ctx, [w], columns=["weight", "doc_id"],
               descending=[True, False], limit=50)


@query(
    "q123_text_split",
    """
    WITH enriched AS (
      SELECT doc_id,
             replace(replace(text, ' sort ', '. Sort! '),
                     ' join ', '? Join. ') AS t
      FROM documents),
    parts AS (
      SELECT doc_id,
             list_filter(
                 list_transform(
                     string_split(
                         regexp_replace(replace(t, chr(30), ''),
                                        '([.!?])\\s+',
                                        '\\1' || chr(30), 'g'),
                         chr(30)),
                     p -> trim(p)),
                 p -> len(p) >= 2) AS ps
      FROM enriched)
    SELECT doc_id, (i - 1)::INT AS part_id, ps[i] AS part
    FROM (SELECT doc_id, ps, unnest(range(1, len(ps) + 1)) AS i FROM parts)
    """,
)
def q123_text_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.split: sentence segmentation (the step in front of RAG
    chunking and sentence-level dedup). The corpus text has no
    punctuation, so the query plants sentence boundaries first
    (replace chains, engine-portable), then splits; the oracle
    replays the sentinel-insertion rule (RE2 has no lookbehind —
    the two-step form is why the op is oracle-checkable at all)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    d = _op("map.apply", ctx, [d],
            expression="replace(replace(text, ' sort ', '. Sort! '), "
                       "' join ', '? Join. ')",
            output_column="t")
    out = _op("text.split", ctx, [d], column="t", id_column="doc_id",
              granularity="sentence", min_chars=2)
    return _op("select.apply", ctx, [out],
               columns=["doc_id", "part_id", "part"])


@query(
    "q124_corpus_manifest",
    f"""
    SELECT lang,
           COUNT(*)::BIGINT AS n_docs,
           SUM(len({_SQL_TOKENS}))::BIGINT AS n_tokens,
           SUM(len(text))::BIGINT AS n_chars,
           bit_xor({_sql_hash("concat_ws(chr(31), doc_id::VARCHAR, text)")})
               AS content_hash
    FROM documents GROUP BY lang
    """,
)
def q124_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus.manifest: the training-freeze audit table — per-language
    doc/token/char counts and an order-insensitive content hash
    (bit_xor of portable doc hashes). Re-running the pipeline must
    reproduce this table bit-for-bit; the oracle computes it
    independently, so a match also certifies the hash is partition-
    and engine-invariant."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    return _op("corpus.manifest", ctx, [d], column="text",
               by=["lang"], id_column="doc_id")


def _trained_ivf_oracle() -> str:
    ctes, final = _kmeans_cte(k=4, iterations=3)
    ids = ", ".join(map(str, _KNN_IDS))
    return f"""
    WITH {ctes},
    ev AS (SELECT e.vec_id, a.c AS label,
                  list_transform(e.v, x -> x::DOUBLE) AS dv
           FROM e JOIN {final} a ON e.vec_id = a.vec_id),
    q AS (SELECT vec_id AS query_id, label AS ql, dv AS qv
          FROM ev WHERE vec_id IN ({ids})),
    sims AS (
      SELECT q.query_id, ev.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, ev.dv) /
                   (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(ev.dv, ev.dv))), 6) AS cosine
      FROM ev JOIN q ON ev.label = q.ql WHERE ev.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM sims) WHERE rank <= 5
    """


@query("q125_trained_ivf", _trained_ivf_oracle())
def q125_trained_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The textbook IVF, end-to-end: embedding.kmeans trains the
    coarse quantizer (3 Lloyd iterations, k=4) and its assignments
    become knn.ivf's bucket column — queries probe only their own
    cell (~1/k of the corpus scanned). q35 proves ivf against GIVEN
    buckets; this proves the TRAINED path: the oracle re-derives the
    cells via the unrolled Lloyd SQL and brute-forces within them."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    cl = _op("embedding.kmeans", ctx, [e], id_column="vec_id",
             column="embedding", k=4, iterations=3, dim=64,
             output_column="ivf_cell")
    return _op("knn.ivf", ctx, [cl], id_column="vec_id",
               column="embedding", bucket_column="ivf_cell", k=5,
               query_ids=_KNN_IDS)


@query("q126_knn_pq_pretrained",
       _pq_oracle(m=4, kw=4, iterations=1, dim=64, nq=5, topk=3))
def q126_knn_pq_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn.pq pretrained mode — the train-once-search-many
    deployment: embedding.pq trains the codebooks ONCE,
    embedding.pq_encode stamps the corpus with codes (zero training
    jobs), and knn.pq searches touching ONLY (id, code) pairs (the
    corpus vectors never load). Same oracle family as q121 (1 Lloyd
    iteration here — q121 already proves training depth; this query
    proves the pretrained ENCODE+SEARCH plumbing, which must return
    bit-identical results to the integrated path)."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    books = _op("embedding.pq", ctx, [e], id_column="vec_id",
                column="embedding", m=4, k=4, iterations=1, dim=64,
                output="codebooks")
    encoded = _op("embedding.pq_encode", ctx, [e, books],
                  id_column="vec_id", column="embedding")
    q = _op("filter.apply", ctx, [e], expr="vec_id < 5")
    return _op("knn.pq", ctx, [encoded, q, books], id_column="vec_id",
               column="embedding", code_column="pq_code", k=3)


def _pca_oracle(components: int, iterations: int, dim: int = 64) -> str:
    """Replay embedding.pca end-to-end in DuckDB: quantized exact
    moments, the one covariance formula, fixed-count power iteration
    with deflation (every fold in ascending index order, sqrt for
    norms), and the centered projection — pca.py bit-for-bit."""
    d1 = dim + 1
    fold = "(a, b) -> a + b"
    blocks = [
        f"""q AS MATERIALIZED (SELECT vec_id,
               list_transform(v, x -> floor(x::DOUBLE * 1048576.0)::BIGINT)
                   AS qv FROM e)""",
        f"""el AS MATERIALIZED (SELECT vec_id, i, qv[i] AS qi
        FROM (SELECT vec_id, qv, unnest(range(1, {d1})) AS i FROM q))""",
        "nn AS MATERIALIZED (SELECT COUNT(*)::BIGINT AS n FROM q)",
        "sm AS MATERIALIZED (SELECT i, SUM(qi)::BIGINT AS s FROM el GROUP BY i)",
        """pr AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
               SUM(a.qi::DECIMAL(19,0) * b.qi)::DECIMAL(38,0) AS p
        FROM el a JOIN el b ON a.vec_id = b.vec_id GROUP BY a.i, b.i)""",
        """cov0 AS MATERIALIZED (SELECT p.i, p.j,
               (p.p::DOUBLE - sa.s::DOUBLE * sb.s::DOUBLE / nn.n)
                   / (nn.n * 1099511627776.0) AS c
        FROM pr p JOIN sm sa ON sa.i = p.i JOIN sm sb ON sb.i = p.j
        CROSS JOIN nn)""",
    ]
    for comp in range(1, components + 1):
        prev_cov = f"cov{comp - 1}"
        blocks.append(
            f"v{comp}_0 AS MATERIALIZED (SELECT unnest(range(1, {d1}))::INT AS i, "
            "1.0::DOUBLE AS val)"
        )
        for t in range(1, iterations + 1):
            blocks.append(f"""w{comp}_{t} AS MATERIALIZED (
        SELECT cv.i, list_reduce(list_prepend(0.0::DOUBLE,
                   list(cv.c * vv.val ORDER BY cv.j)), {fold}) AS val
        FROM {prev_cov} cv JOIN v{comp}_{t - 1} vv ON cv.j = vv.i
        GROUP BY cv.i)""")
            blocks.append(f"""n{comp}_{t} AS MATERIALIZED (
        SELECT sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                   list(val * val ORDER BY i)), {fold})) AS nm
        FROM w{comp}_{t})""")
            blocks.append(f"""v{comp}_{t} AS MATERIALIZED (
        SELECT i, val / nm AS val FROM w{comp}_{t} CROSS JOIN n{comp}_{t})""")
        last = f"{comp}_{iterations}"
        if comp < components:
            blocks.append(f"""cov{comp} AS MATERIALIZED (
        SELECT cv.i, cv.j, cv.c - n{last}.nm * va.val * vb.val AS c
        FROM {prev_cov} cv
        JOIN v{last} va ON va.i = cv.i
        JOIN v{last} vb ON vb.i = cv.j
        CROSS JOIN n{last})""")
        blocks.append(
            f"vl{comp} AS MATERIALIZED (SELECT list(val ORDER BY i) AS vlist FROM v{last})"
        )
    blocks.append(
        "ml AS MATERIALIZED (SELECT list(s::DOUBLE / (nn.n * 1048576.0) ORDER BY i) AS m "
        "FROM sm CROSS JOIN nn GROUP BY nn.n)"
    )
    score_cols = ", ".join(
        f"""round(list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(range(1, {d1}),
                k -> (e.v[k]::DOUBLE - ml.m[k]) * vl{c}.vlist[k])),
            {fold}), 9) AS pc{c}"""
        for c in range(1, components + 1)
    )
    crosses = " ".join(f"CROSS JOIN vl{c}" for c in range(1, components + 1))
    return (
        "WITH e AS MATERIALIZED (SELECT vec_id, embedding AS v FROM embeddings),\n"
        + ",\n".join(blocks)
        + f"\nSELECT e.vec_id, {score_cols} FROM e CROSS JOIN ml {crosses}"
    )


@query("q127_embedding_pca", _pca_oracle(components=2, iterations=8))
def q127_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding.pca: exact-replay PCA — quantized-int64 moments in
    ONE wide aggregate pass, driver-side fixed-count power iteration
    with deflation, codegen projection. The oracle re-derives the
    moments (via a self-join — exactness bridges the two
    formulations), replays every power iteration and the deflation
    in SQL, and projects: a hash match proves the WHOLE eigenpipeline
    is partition-order-independent and engine-exact — the property
    MLlib's double-summed Gram + LAPACK path cannot offer."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    out = _op("embedding.pca", ctx, [e], id_column="vec_id",
              column="embedding", components=2, iterations=8, dim=64)
    return _op("select.apply", ctx, [out],
               columns=["vec_id", "pc1", "pc2"])


@query(
    "q128_mine_bitext",
    """
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    s AS (SELECT vec_id AS sid, label, v,
                 sqrt(list_dot_product(v, v)) AS n
          FROM e WHERE vec_id % 2 = 0),
    t AS (SELECT vec_id AS tid, label, v,
                 sqrt(list_dot_product(v, v)) AS n
          FROM e WHERE vec_id % 2 = 1),
    p AS (SELECT s.sid, t.tid,
                 round(list_dot_product(s.v, t.v) / (s.n * t.n), 6) AS cos
          FROM s JOIN t ON s.label = t.label),
    rs AS (SELECT sid, tid, cos,
                  row_number() OVER (PARTITION BY sid
                                     ORDER BY cos DESC, tid) AS r FROM p),
    sa AS (SELECT sid,
                  list_reduce(list_prepend(0.0::DOUBLE,
                      list(cos ORDER BY r)), (a, b) -> a + b)
                  / COUNT(*) AS sa
           FROM rs WHERE r <= 3 GROUP BY sid),
    rt AS (SELECT sid, tid, cos,
                  row_number() OVER (PARTITION BY tid
                                     ORDER BY cos DESC, sid) AS r FROM p),
    ta AS (SELECT tid,
                  list_reduce(list_prepend(0.0::DOUBLE,
                      list(cos ORDER BY r)), (a, b) -> a + b)
                  / COUNT(*) AS ta
           FROM rt WHERE r <= 3 GROUP BY tid),
    m AS (SELECT p.sid, p.tid, p.cos,
                 round(p.cos / ((sa.sa + ta.ta) * 0.5), 9) AS mg
          FROM p JOIN sa ON p.sid = sa.sid JOIN ta ON p.tid = ta.tid),
    bs AS (SELECT sid, tid, cos, mg,
                  row_number() OVER (PARTITION BY sid
                                     ORDER BY mg DESC, tid) AS rb FROM m),
    bt AS (SELECT sid, tid FROM (
               SELECT sid, tid,
                      row_number() OVER (PARTITION BY tid
                                         ORDER BY mg DESC, sid) AS rb
               FROM m) WHERE rb = 1)
    SELECT b.sid AS src_vec_id, b.tid AS tgt_vec_id,
           b.cos AS cosine, b.mg AS margin
    FROM bs b JOIN bt ON b.sid = bt.sid AND b.tid = bt.tid
    WHERE b.rb = 1 AND b.mg >= 1.0
    """,
)
def q128_mine_bitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mine.bitext: margin-based parallel-pair mining (the CCMatrix /
    LASER ratio margin) — even vec_ids as the source corpus, odd as
    the target, candidates bounded by the label buckets, mutual best
    matches with margin >= 1.0. The oracle replays cosine (round 6),
    the rank-ordered top-3 neighborhood means, the margin formula,
    and both argmax directions."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    src = _op("filter.apply", ctx, [e], expr="vec_id % 2 = 0")
    tgt = _op("filter.apply", ctx, [e], expr="vec_id % 2 = 1")
    return _op("mine.bitext", ctx, [src, tgt], id_column="vec_id",
               column="embedding", bucket_column="label", k=3,
               threshold=1.0, mutual=True)


# Synthetic multi-line "web page" built from (doc_id, text) — the
# documents corpus is single-line token soup, so q129/q130 derive a
# page with punctuation, bullets, ellipses and page-level poison
# deterministically. One SQL expression string, parsed by BOTH
# engines (concat/substr/CASE/chr are identical), so the inputs to
# the rules match bit-for-bit.
_PAGE_SQL = (
    "concat("
    "substr(text, 1, 40 + doc_id % 60), '.', chr(10), "
    "CASE WHEN doc_id % 3 = 0 THEN '• bullet item' "
    "ELSE concat('The data we have to work with is ', "
    "substr(text, 1, 20 + doc_id % 20), '.') END, chr(10), "
    "CASE WHEN doc_id % 5 = 0 THEN 'short line' "
    "ELSE concat(substr(text, 10, 50), '!') END, "
    "CASE WHEN doc_id % 7 = 0 THEN concat(chr(10), "
    "'this trailing line just goes on and on', '...') ELSE '' END, "
    "CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum' "
    "WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END"
    ")"
)

_GOPHER_STOP_SQL = "['the','be','to','of','and','that','have','with']"

_Q129_ORACLE = """
    WITH page AS (SELECT doc_id, __PAGE__ AS p FROM documents),
    tk AS (SELECT doc_id, p,
                  list_filter(string_split_regex(p, '\\s+'),
                              x -> x <> '') AS toks
           FROM page),
    m AS (SELECT doc_id,
            len(toks)::BIGINT AS words,
            greatest(len(toks), 1)::DOUBLE AS wf,
            length(array_to_string(toks, ''))::DOUBLE AS chars,
            (len(string_split(p, '#')) - 1
             + len(string_split(p, '…')) - 1
             + len(string_split_regex(p, '\\.{3}')) - 1) AS syms,
            list_filter(list_transform(string_split(p, chr(10)),
                                       x -> trim(x)),
                        x -> x <> '') AS lines,
            len(list_filter(toks,
                t -> regexp_matches(t, '[a-zA-Z]'))) AS alpha,
            len(list_intersect(
                list_distinct(list_filter(
                    string_split_regex(lower(p), '\\s+'),
                    x -> x <> '')),
                __STOPS__)) AS hits
          FROM tk),
    m2 AS (SELECT doc_id, words, chars / wf AS awl,
             syms::DOUBLE / wf AS sym_ratio,
             len(list_filter(lines,
                 l -> list_contains(['•','‣','-','*'],
                                    left(l, 1))))::DOUBLE
               / greatest(len(lines), 1) AS bullet_ratio,
             len(list_filter(lines,
                 l -> ends_with(l, '…')
                      OR ends_with(l, '...')))::DOUBLE
               / greatest(len(lines), 1) AS ell_ratio,
             alpha::DOUBLE / wf AS alpha_ratio, hits
           FROM m)
    SELECT doc_id, words AS gopher_words, awl AS gopher_avg_word_len,
           sym_ratio AS gopher_symbol_ratio,
           bullet_ratio AS gopher_bullet_ratio,
           ell_ratio AS gopher_ellipsis_ratio,
           alpha_ratio AS gopher_alpha_ratio,
           hits::INT AS gopher_stop_hits,
           (words >= 15 AND words <= 100000
            AND awl >= 3.0 AND awl <= 10.0
            AND sym_ratio <= 0.02 AND bullet_ratio <= 0.3
            AND ell_ratio <= 0.2 AND alpha_ratio >= 0.8
            AND hits >= 2) AS gopher_pass
    FROM m2
""".replace("__PAGE__", _PAGE_SQL).replace("__STOPS__", _GOPHER_STOP_SQL)


@query("q129_quality_gopher", _Q129_ORACLE)
def q129_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality.gopher: the Rae-et-al document quality rule set with
    per-rule measurements, over a synthetic multi-line page derived
    from each document (the corpus itself is single-line token soup).
    Thresholds are tightened (min_words=15, max_symbol_ratio=0.02,
    max_bullet_ratio=0.3, max_ellipsis_ratio=0.2) so the rules reject a mix of documents; the
    oracle replays the page construction and all seven rules. All
    ratios are int/int doubles — bit-exact, no rounding."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    paged = _op("map.apply", ctx, [d], expression=_PAGE_SQL, output_column="page")
    g = _op("quality.gopher", ctx, [paged], column="page",
            min_words=15, max_symbol_ratio=0.02, max_bullet_ratio=0.3,
            max_ellipsis_ratio=0.2)
    return _op("select.apply", ctx, [g], columns=[
        "doc_id", "gopher_words", "gopher_avg_word_len",
        "gopher_symbol_ratio", "gopher_bullet_ratio",
        "gopher_ellipsis_ratio", "gopher_alpha_ratio",
        "gopher_stop_hits", "gopher_pass"])


_Q130_ORACLE = """
    WITH page AS (SELECT doc_id, __PAGE__ AS p FROM documents),
    l AS (SELECT doc_id, p,
                 list_filter(list_transform(string_split(p, chr(10)),
                                            x -> trim(x)),
                             x -> x <> '') AS lines
          FROM page),
    k AS (SELECT doc_id, p, lines,
                 list_filter(lines,
                     x -> list_contains(['.', '!', '?', '"'],
                                        right(x, 1))
                          AND len(list_filter(
                                string_split_regex(x, '\\s+'),
                                w -> w <> '')) >= 5
                          AND NOT contains(lower(x), 'javascript')
                 ) AS kept
          FROM l),
    c AS (SELECT doc_id, p, len(kept)::INT AS c4_kept_lines,
                 len(lines)::INT AS c4_total_lines,
                 COALESCE(array_to_string(kept, chr(10)), '') AS cleaned
          FROM k),
    s AS (SELECT doc_id, p, c4_kept_lines, c4_total_lines, cleaned,
                 (len(string_split_regex(cleaned, '[.!?]')) - 1)::INT
                   AS c4_sentences
          FROM c)
    SELECT doc_id, cleaned AS page,
           c4_kept_lines, c4_total_lines, c4_sentences,
           COALESCE(NOT contains(lower(p), 'lorem ipsum')
                    AND NOT contains(p, '{')
                    AND c4_sentences >= 2, false) AS c4_page_ok
    FROM s
""".replace("__PAGE__", _PAGE_SQL)


@query("q130_c4_filter", _Q130_ORACLE)
def q130_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.c4_filter: the Raffel-et-al C4 cleaning pass in clean
    mode — line filter (terminal punctuation, >= 5 words, no
    'javascript'), page poison ('lorem ipsum', curly brace), and the
    min-sentence gate — over the same synthetic page as q129. The
    oracle replays the line filter and the rewrite; the '' vs NULL
    array_join divergence between engines is pinned to ''."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    paged = _op("map.apply", ctx, [d], expression=_PAGE_SQL, output_column="page")
    c = _op("text.c4_filter", ctx, [paged], column="page", mode="clean",
            min_line_words=5, min_sentences=2)
    return _op("select.apply", ctx, [c], columns=[
        "doc_id", "page", "c4_kept_lines", "c4_total_lines",
        "c4_sentences", "c4_page_ok"])


_Q131_ORACLE = """
    WITH tk AS (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '') AS tk
                FROM documents),
    tok AS (SELECT doc_id, unnest(tk) AS t FROM tk),
    h AS (SELECT doc_id,
                 ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
          FROM tok),
    b AS (SELECT doc_id, (h % 32)::INT AS idx,
                 CASE WHEN ((h >> 40) & 1) = 1 THEN 1 ELSE -1 END AS s
          FROM h),
    g AS (SELECT doc_id, idx, SUM(s)::BIGINT AS v
          FROM b GROUP BY doc_id, idx)
    SELECT doc_id, idx, v::DOUBLE AS val FROM g WHERE v <> 0
"""


@query("q131_feature_hashing", _Q131_ORACLE)
def q131_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """feature.hashing: the hashing-trick vectorizer (Weinberger et
    al. / HashingVectorizer) — signed token counts in 32 buckets,
    sparse output exploded to (doc_id, idx, val) rows for the hash
    gate. The op folds per-row with ZERO shuffle; the oracle replays
    the same buckets/signs relationally (explode + groupBy), proving
    the per-row fold equals the shuffle formulation it avoids."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    fh = _op("feature.hashing", ctx, [d], column="text", dim=32,
             output="sparse")
    return _op("sql.query", ctx, [fh], views=["q131_fh"], sql="""
        SELECT doc_id, e.indices AS idx, e.`values` AS val
        FROM q131_fh
        LATERAL VIEW explode(arrays_zip(indices, `values`)) AS e
    """)


def _semdedup_oracle(k: int, iterations: int, threshold: float) -> str:
    ctes, final = _kmeans_cte(k, iterations)
    return f"""
    WITH {ctes},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM {final} a JOIN {final} b
        ON a.c = b.c AND a.vec_id < b.vec_id),
    drops AS (SELECT DISTINCT id_b FROM pairs
              WHERE cosine >= {threshold})
    SELECT d.vec_id, d.c AS cell,
           (drops.id_b IS NULL) AS kept
    FROM {final} d LEFT JOIN drops ON d.vec_id = drops.id_b
    """


@query("q132_semdedup", _semdedup_oracle(k=4, iterations=2, threshold=0.3))
def q132_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al.): semantic deduplication as a pure
    composition of the engine's primitives — embedding.kmeans trains
    the cluster space (2 Lloyd iterations, k=4), dedup.embedding
    emits within-cluster cosine duplicate pairs (per-bucket GEMM),
    and the keep-first policy retains the lowest id of every
    duplicate pair (a row is dropped iff it is the larger id of any
    pair — same policy as dedup.exact keep=first). The oracle replays
    the trained cells via the unrolled Lloyd SQL, the exact pair
    cosines, and the drop rule."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    cl = _op("embedding.kmeans", ctx, [e], id_column="vec_id",
             column="embedding", k=4, iterations=2, dim=64)
    pairs = _op("dedup.embedding", ctx, [cl], id_column="vec_id",
                column="embedding", bucket_column="cluster",
                threshold=0.3)
    return _op("sql.query", ctx, [cl, pairs],
               views=["q132_docs", "q132_pairs"], sql="""
        SELECT d.vec_id, d.cluster AS cell,
               (p.id_b IS NULL) AS kept
        FROM q132_docs d
        LEFT JOIN (SELECT DISTINCT id_b FROM q132_pairs) p
          ON d.vec_id = p.id_b
    """)


_Q133_ORACLE = f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    tok AS (SELECT doc_id, unnest(tk) AS t FROM tk),
    tf AS (SELECT doc_id, t, COUNT(*)::BIGINT AS tf
           FROM tok GROUP BY doc_id, t),
    dfq AS (SELECT t, COUNT(*)::BIGINT AS df FROM tf GROUP BY t),
    n AS (SELECT COUNT(DISTINCT doc_id)::BIGINT AS n FROM tf),
    sc AS (SELECT tf.doc_id, tf.t, tf.tf, dfq.df,
                  tf.tf * (ln((n.n + 1)::DOUBLE / (dfq.df + 1)) + 1.0) AS s
           FROM tf JOIN dfq ON tf.t = dfq.t CROSS JOIN n
           WHERE dfq.df::DOUBLE / n.n <= 0.785),
    r AS (SELECT doc_id, t, tf, df, s,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY s DESC, t) AS rnk
          FROM sc)
    SELECT doc_id, t AS term, tf, df, round(s, 9) AS tfidf,
           rnk::INT AS rank
    FROM r WHERE rnk <= 5
"""


@query("q133_rank_tfidf", _Q133_ORACLE)
def q133_rank_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank.tfidf: top-5 smooth-idf TF-IDF keywords per document with
    max_df=0.785 boilerplate pruning (splits the corpus's head/tail vocabulary). The score is one double
    expression over exact int64 counts (the ln-of-int-ratio class),
    so the rank order replays bit-for-bit in DuckDB."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    return _op("rank.tfidf", ctx, [d], column="text",
               id_column="doc_id", top_k=5, max_df=0.785)


_Q134_ORACLE = """
    WITH page AS (SELECT doc_id, __PAGE__ AS p FROM documents),
    tk AS (SELECT doc_id, p,
                  list_filter(string_split_regex(lower(p), '\\s+'),
                              x -> x <> '') AS toks
           FROM page),
    m AS (SELECT doc_id,
            len(toks)::BIGINT AS w,
            greatest(len(string_split_regex(p, '[.!?]+')) - 1,
                     1)::BIGINT AS s,
            list_reduce(list_prepend(0::BIGINT, list_transform(toks,
                t -> greatest(
                    len(string_split_regex(t, '[aeiouy]+')) - 1
                    - CASE WHEN ends_with(t, 'e')
                           AND len(string_split_regex(t, '[aeiouy]+'))
                               - 1 > 1
                           THEN 1 ELSE 0 END,
                    1)::BIGINT)),
                (a, b) -> a + b) AS syl
          FROM tk)
    SELECT doc_id, w AS rd_words, s AS rd_sentences,
           syl AS rd_syllables,
           206.835::DOUBLE - 1.015::DOUBLE * (w::DOUBLE / s)
             - 84.6::DOUBLE * (syl::DOUBLE / greatest(w, 1))
             AS flesch_ease,
           0.39::DOUBLE * (w::DOUBLE / s)
             + 11.8::DOUBLE * (syl::DOUBLE / greatest(w, 1))
             - 15.59::DOUBLE AS fk_grade
    FROM m
""".replace("__PAGE__", _PAGE_SQL)


@query("q134_text_readability", _Q134_ORACLE)
def q134_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.readability: Flesch reading ease + Flesch-Kincaid grade
    via the vowel-group syllable heuristic, over the synthetic q129
    page. Words/sentences/syllables are exact ints; both scores are
    one fixed double expression over them, so the oracle matches
    bit-for-bit with no rounding."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    paged = _op("map.apply", ctx, [d], expression=_PAGE_SQL,
                output_column="page")
    r = _op("text.readability", ctx, [paged], column="page")
    return _op("select.apply", ctx, [r], columns=[
        "doc_id", "rd_words", "rd_sentences", "rd_syllables",
        "flesch_ease", "fk_grade"])


_Q135_ORACLE = """
    WITH a AS (SELECT l_extendedprice::DOUBLE AS v FROM lineitem
               WHERE l_returnflag = 'R'),
    b AS (SELECT l_extendedprice::DOUBLE AS v FROM lineitem
          WHERE l_returnflag = 'N'),
    ca AS (SELECT v, COUNT(*)::BIGINT AS ca FROM a GROUP BY v),
    cb AS (SELECT v, COUNT(*)::BIGINT AS cb FROM b GROUP BY v),
    sp AS (SELECT COALESCE(ca.v, cb.v) AS v,
                  COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
           FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
    t AS (SELECT (SELECT COUNT(*)::BIGINT FROM a) AS na,
                 (SELECT COUNT(*)::BIGINT FROM b) AS nb,
                 (SELECT COUNT(*)::BIGINT FROM sp) AS nv),
    c AS (SELECT sp.v, t.na, t.nb, t.nv,
                 abs((SUM(sp.ca) OVER w)::DOUBLE / t.na
                     - (SUM(sp.cb) OVER w)::DOUBLE / t.nb) AS d
          FROM sp CROSS JOIN t
          WINDOW w AS (ORDER BY sp.v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW))
    SELECT d AS d_stat, v AS at_value, na AS n_ref, nb AS n_cur,
           nv AS n_values, 0::BIGINT AS n_null_ref,
           0::BIGINT AS n_null_cur
    FROM c ORDER BY d DESC, v LIMIT 1
"""


@query("q135_ks_test", _Q135_ORACLE)
def q135_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats.ks_test: the exact two-sample Kolmogorov-Smirnov drift
    statistic between returned ('R') and delivered ('N') lineitem
    price distributions — binning-free, unlike drift.psi. The op's
    cumulative CDFs are TWO-PHASE (range buckets + offset frame, the
    q13 pattern) so no window scans the whole distinct-value spine in
    one partition; the oracle's plain windowed cumsum must agree
    exactly, proving the two-phase decomposition."""
    ctx = _ctx(spark)
    li = load_table(spark, sf_dir, "lineitem")
    r = _op("filter.apply", ctx, [li], expr="l_returnflag = 'R'")
    n = _op("filter.apply", ctx, [li], expr="l_returnflag = 'N'")
    return _op("stats.ks_test", ctx, [r, n], column="l_extendedprice",
               buckets=64)


# q136: a fasttext-export stand-in — three topic classes over the
# corpus vocabulary plus a bias-only fallback class with a prior
_Q136_WEIGHTS = [
    ("join", "db", 1.4), ("hash", "db", 1.1), ("merge", "db", 0.7),
    ("scan", "db", 0.5), ("slow", "db", -0.6),
    ("stream", "rt", 1.3), ("window", "rt", 1.0), ("batch", "rt", 0.4),
    ("join", "rt", -0.2), ("the", "rt", -0.1),
    ("the", "filler", 0.6), ("a", "filler", 0.5), ("dup", "filler", 0.9),
    ("slow", "filler", 0.3),
]
_Q136_W_SQL = ", ".join(
    f"('{t}', '{c}', {w})" for t, c, w in _Q136_WEIGHTS
)


# shared q136/q142 CTE chain: per-doc argmax class — ends in
# ``r(doc_id, cls, s, rn)`` with rn = 1 the winning class
_Q136_CTE = f"""
    w(term, cls, weight) AS (VALUES {_Q136_W_SQL}),
    classes AS (SELECT DISTINCT cls FROM w
                UNION SELECT 'other'),
    tk AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    tok AS (SELECT doc_id, unnest(tk) AS t FROM tk),
    tf AS (SELECT doc_id, t, COUNT(*)::BIGINT AS tf
           FROM tok GROUP BY doc_id, t),
    lens AS (SELECT doc_id, SUM(tf)::BIGINT AS len FROM tf GROUP BY doc_id),
    c AS (SELECT tf.doc_id, w.cls, tf.t, tf.tf * w.weight AS c
          FROM tf JOIN w ON tf.t = w.term),
    dot AS (SELECT c.doc_id, c.cls,
                   list_reduce(list_prepend(0.0::DOUBLE,
                       list(c.c ORDER BY c.t)), (a, b) -> a + b)
                   / lens.len AS dot
            FROM c JOIN lens ON c.doc_id = lens.doc_id
            GROUP BY c.doc_id, c.cls, lens.len),
    cand AS (SELECT d.doc_id, cl.cls,
                    round(COALESCE(dot.dot, 0.0)
                          + CASE WHEN cl.cls = 'other' THEN -0.25
                                 ELSE 0.0 END, 9) + 0.0 AS s
             FROM documents d CROSS JOIN classes cl
             LEFT JOIN dot ON d.doc_id = dot.doc_id AND cl.cls = dot.cls),
    r AS (SELECT doc_id, cls, s,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY s DESC, cls) AS rn
          FROM cand)"""


@query(
    "q136_classify_multiclass",
    f"""
    WITH {_Q136_CTE}
    SELECT doc_id, cls AS predicted, s AS score FROM r WHERE rn = 1
    """,
)
def q136_classify_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classify.multiclass: fasttext-shaped language-ID / topic
    routing — argmax over per-class linear scores from an
    offline-trained (term, class, weight) table, with a bias-only
    'other' fallback class competing on its prior (docs whose tokens
    match nothing, or only negatively, fall back to it). Exactness:
    term-ordered contribution folds per (doc, class), round 9, total
    (score DESC, class ASC) tie-break."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    w = spark.createDataFrame(
        _Q136_WEIGHTS, "term STRING, class STRING, weight DOUBLE"
    )
    out = _op("classify.multiclass", ctx, [d, w],
              column="text", id_column="doc_id", mode="mean",
              biases={"other": -0.25})
    return _op("select.apply", ctx, [out],
               columns=["doc_id", "predicted", "score"])


def _winnow_sel_cte(k: int, w: int) -> str:
    """Shared q137/q140 CTE chain: winnowing's encoded window-min
    selection (15-hex md5 + reversed-position tie-break) — ends in
    ``sel(doc_id, sk)`` with sk the selected key strings."""
    return f"""
    tk AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    g AS (SELECT doc_id,
            CASE WHEN len(tk) < {k} THEN []::VARCHAR[]
                 ELSE list_transform(range(0, len(tk) - {k} + 1),
                        i -> array_to_string(
                               list_slice(tk, i + 1, i + {k}), ' '))
            END AS grams
          FROM tk),
    ks AS (SELECT doc_id,
             list_transform(range(0, len(grams)),
               i -> substr(md5(grams[i + 1]), 1, 15) || '#'
                    || lpad((999999999999 - i)::VARCHAR, 12, '0')) AS keys
           FROM g),
    sel AS (SELECT doc_id,
              CASE WHEN len(keys) = 0 THEN []::VARCHAR[]
                   ELSE list_distinct(list_transform(
                          range(0, greatest(len(keys) - {w}, 0) + 1),
                          j -> list_aggregate(keys[j + 1 : j + {w}], 'min')))
              END AS sk
            FROM ks)"""


_Q137_ORACLE = f"""
    WITH {_winnow_sel_cte(4, 5)},
    x AS (SELECT doc_id, unnest(sk) AS key FROM sel)
    SELECT doc_id,
           (999999999999 - substr(key, 17, 12)::BIGINT)::INT AS pos,
           ('0x' || substr(key, 1, 15))::BIGINT AS fingerprint
    FROM x
"""


@query("q137_winnow", _Q137_ORACLE)
def q137_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.winnow: MOSS winnowing fingerprints (k=4-token grams,
    window=5) — any shared token run of >= 8 tokens between two docs
    yields an identical selected fingerprint. The selection is pure
    per-doc array expressions (zero shuffle); the oracle replays the
    encoded window-min rule (15-hex md5 + reversed-position tie-break)
    verbatim in DuckDB."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    return _op("text.winnow", ctx, [d], column="text",
               id_column="doc_id", k=4, window=5)


_Q138_ORACLE = f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    b AS (SELECT doc_id, tk, len(tk) AS n,
            CASE WHEN len(tk) < 3 THEN []::BIGINT[]
                 ELSE list_filter(range(2, len(tk)),
                        i -> ('0x' || substr(md5(array_to_string(
                               list_slice(tk, i - 1, i + 1), ' ')), 1, 15)
                             )::BIGINT % 16 = 0)
            END AS bp
          FROM tk),
    c AS (SELECT doc_id, tk,
            list_concat([0]::BIGINT[], list_transform(bp, p -> p + 1)) AS st,
            list_concat(bp, [n - 1]) AS en
          FROM b WHERE n > 0),
    pr AS (SELECT doc_id, tk,
             list_filter(list_transform(range(0, len(st)),
                 j -> {{'s': st[j + 1], 'e': en[j + 1]}}),
               p -> p.s <= p.e) AS prs
           FROM c),
    u AS (SELECT doc_id, tk,
            unnest(prs) AS x,
            generate_subscripts(prs, 1) - 1 AS ci
          FROM pr),
    ex AS (SELECT doc_id, ci,
             array_to_string(list_slice(tk, x.s + 1, x.e + 1), ' ') AS chunk,
             (x.e - x.s + 1) AS ctoks
           FROM u)
    SELECT doc_id, ci::INT AS chunk_index, chunk,
           ctoks::INT AS chunk_tokens,
           ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS chunk_hash
    FROM ex
"""


@query("q138_cdc_chunk", _Q138_ORACLE)
def q138_cdc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.cdc_chunk: content-defined chunking (rsync/LBFS boundary
    rule on token streams) — cut where the k=3-token window hash ≡ 0
    mod 16, so edits only perturb chunk hashes near the edit site.
    The whole chunking is per-doc codegen array exprs (zero shuffle);
    the oracle replays boundary selection, chunk assembly, and chunk
    hashing verbatim in DuckDB."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    return _op("text.cdc_chunk", ctx, [d], column="text",
               id_column="doc_id", k=3, divisor=16)


# q139: MMR selection against a fixed query vector. The literal is
# generated once and embedded into BOTH engines' SQL texts.
_Q139_QV = [round((((i * 37) % 13) - 6) / 7.0, 6) for i in range(64)]
_Q139_K, _Q139_LAM = 4, 0.5


def _mmr_oracle(k: int, lam: float) -> str:
    qv = "[" + ", ".join(repr(x) for x in _Q139_QV) + "]::DOUBLE[]"

    def cos(a: str, b: str) -> str:
        return (f"round(list_dot_product({a}, {b}) / "
                f"(sqrt(list_dot_product({a}, {a})) * "
                f"sqrt(list_dot_product({b}, {b}))), 6)")

    ctes = [
        "e AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE)"
        " AS v FROM embeddings)",
        f"c AS MATERIALIZED (SELECT id, v, {cos('v', qv)} AS rel FROM e)",
        "s1 AS MATERIALIZED (SELECT id, v, rel, round(rel, 9) + 0.0 AS mmr"
        " FROM c ORDER BY round(rel, 9) DESC, id LIMIT 1)",
    ]
    for r in range(2, k + 1):
        prevs = [f"s{j}" for j in range(1, r)]
        sims = ", ".join(cos("c.v", f"{p}.v") for p in prevs)
        maxsim = sims if len(prevs) == 1 else f"greatest({sims})"
        notin = " AND ".join(f"c.id <> {p}.id" for p in prevs)
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT c.id, c.v, c.rel, "
            f"round({lam} * c.rel - {1.0 - lam} * {maxsim}, 9) + 0.0 AS mmr "
            f"FROM c, {', '.join(prevs)} WHERE {notin} "
            f"ORDER BY mmr DESC, c.id LIMIT 1)"
        )
    finals = " UNION ALL ".join(
        f"SELECT id AS vec_id, {r}::INT AS rank, rel AS relevance, mmr"
        f" FROM s{r}" for r in range(1, k + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


@query("q139_rank_mmr", _mmr_oracle(_Q139_K, _Q139_LAM))
def q139_rank_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank.mmr: maximal-marginal-relevance selection — relevance =
    cosine to a fixed query vector (round 6, the knn policy), then 4
    greedy rounds trading relevance against max similarity to the
    already-selected set (lam=0.5). Each round is one codegen
    aggregate with the selected vectors as literals (the kmeans /
    pagerank iterative-literal family). The oracle unrolls all 4
    rounds as 1-row materialized CTEs."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    qv = "array(" + ", ".join(f"{x}D" for x in _Q139_QV) + ")"
    rel = _op("sql.query", ctx, [e], views=["q139_e"], sql=f"""
        SELECT vec_id, embedding,
               round(aggregate(zip_with(embedding, {qv},
                         (x, y) -> CAST(x AS DOUBLE) * y),
                       CAST(0 AS DOUBLE), (a, v) -> a + v)
                 / (sqrt(aggregate(transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       CAST(0 AS DOUBLE), (a, v) -> a + v))
                  * sqrt(aggregate(transform({qv}, y -> y * y),
                       CAST(0 AS DOUBLE), (a, v) -> a + v))), 6) AS rel
        FROM q139_e
    """)
    return _op("rank.mmr", ctx, [rel], id_column="vec_id",
               column="embedding", relevance_column="rel",
               k=_Q139_K, lam=_Q139_LAM)


_Q140_ORACLE = f"""
    WITH {_winnow_sel_cte(4, 5)},
    fp AS (SELECT DISTINCT doc_id,
             ('0x' || substr(unnest(sk), 1, 15))::BIGINT AS fingerprint
           FROM sel)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           COUNT(*)::BIGINT AS shared
    FROM fp a JOIN fp b
      ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
"""


@query("q140_winnow_pairs", _Q140_ORACLE)
def q140_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS pairing composed from primitives: text.winnow selects the
    guaranteed-overlap fingerprints, a posting self-join on the
    fingerprint value emits candidate pairs, and a shared-count >= 2
    filter keeps documents sharing at least two selected passages.
    The join moves skinny (fingerprint, id) rows only — the documents
    never pair directly. Oracle replays selection + pairing in SQL."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    fp = _op("text.winnow", ctx, [d], column="text",
             id_column="doc_id", k=4, window=5)
    return _op("sql.query", ctx, [fp], views=["q140_fp"], sql="""
        WITH f AS (SELECT DISTINCT doc_id, fingerprint FROM q140_fp)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*) AS shared
        FROM f a JOIN f b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= 2
    """)


def _entropy_sql(syms: str) -> str:
    """Run-length Shannon entropy over a DuckDB list expression —
    mirrors text.entropy's sorted-run construction exactly."""
    return f"""(
      SELECT CASE WHEN n > 0 THEN
               round(ln(n::DOUBLE) - list_reduce(
                 list_prepend(0.0::DOUBLE, list_transform(cnts,
                   c -> (c::DOUBLE) * ln(c::DOUBLE))),
                 (a, x) -> a + x) / n::DOUBLE, 9) + 0.0
             END
      FROM (SELECT len(ss) AS n,
              list_transform(range(0, len(bs)),
                j -> (CASE WHEN j + 1 < len(bs) THEN bs[j + 2]
                           ELSE len(ss) + 1 END) - bs[j + 1]) AS cnts
            FROM (SELECT ss,
                    list_filter(range(1, len(ss) + 1),
                      i -> i = 1 OR ss[i] <> ss[i - 1]) AS bs
                  FROM (SELECT list_sort({syms}) AS ss)))
    )"""


_Q141_ORACLE = f"""
    SELECT doc_id,
      {_entropy_sql("CASE WHEN text IS NULL OR len(text) = 0 "
                    "THEN []::VARCHAR[] ELSE list_transform("
                    "range(1, len(text) + 1), i -> text[i]) END")}
        AS entropy,
      {_entropy_sql("CASE WHEN text IS NULL THEN []::VARCHAR[] "
                    "ELSE " + _SQL_TOKENS + " END")}
        AS token_entropy
    FROM documents
"""


@query("q141_text_entropy", _Q141_ORACLE)
def q141_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.entropy: exact Shannon entropy (nats) of the character
    and token distributions — run lengths over the sorted symbol
    array give exact int counts; one double expr per distinct symbol
    folded in sorted order, round 9. Pure per-row codegen array
    exprs, zero shuffle. The oracle replays the identical run-length
    construction in DuckDB for both units."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    ch = _op("text.entropy", ctx, [d], column="text", unit="char")
    # the char pass already widened the scan — don't repartition twice
    both = _op("text.entropy", ctx, [ch], column="text", unit="token",
               output_column="token_entropy", widen=False)
    return _op("select.apply", ctx, [both],
               columns=["doc_id", "entropy", "token_entropy"])


_Q142_ORACLE = f"""
    WITH {_Q136_CTE},
    routed AS (SELECT d.doc_id, d.text, r.cls AS predicted
               FROM documents d JOIN r ON d.doc_id = r.doc_id AND r.rn = 1)
    SELECT predicted,
           COUNT(*)::BIGINT AS n_docs,
           SUM(len({_SQL_TOKENS}))::BIGINT AS n_tokens,
           SUM(len(text))::BIGINT AS n_chars,
           bit_xor({_sql_hash("concat_ws(chr(31), doc_id::VARCHAR, text)")})
               AS content_hash
    FROM routed GROUP BY predicted
"""


@query("q142_routed_manifest", _Q142_ORACLE)
def q142_routed_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain routing audit composed from primitives: classify
    .multiclass tags every document with its argmax class, then
    corpus.manifest freezes per-class doc/token/char counts and the
    order-insensitive content hash — the release-notes table of a
    router-split corpus. The oracle replays the argmax chain (shared
    with q136) plus the manifest aggregates."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    w = spark.createDataFrame(
        _Q136_WEIGHTS, "term STRING, class STRING, weight DOUBLE"
    )
    routed = _op("classify.multiclass", ctx, [d, w],
                 column="text", id_column="doc_id", mode="mean",
                 biases={"other": -0.25})
    return _op("corpus.manifest", ctx, [routed], column="text",
               by=["predicted"], id_column="doc_id")


_Q143_ORACLE = f"""
    WITH ta AS (SELECT unnest({_SQL_TOKENS}) AS t FROM documents
                WHERE lang = 'en'),
    ca AS (SELECT t, COUNT(*)::BIGINT AS ca FROM ta GROUP BY t),
    tb AS (SELECT unnest({_SQL_TOKENS}) AS t FROM documents
           WHERE lang <> 'en'),
    cb AS (SELECT t, COUNT(*)::BIGINT AS cb FROM tb GROUP BY t),
    j AS (SELECT COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
          FROM ca FULL OUTER JOIN cb ON ca.t = cb.t),
    n AS (SELECT (SELECT SUM(ca) FROM ca) AS na,
                 (SELECT SUM(cb) FROM cb) AS nb),
    c AS (SELECT
            floor((0.5 * (
              (CASE WHEN ca > 0 THEN (ca::DOUBLE / na)
                 * ln(2.0 * (ca * nb)::DOUBLE
                      / ((ca * nb + cb * na)::DOUBLE))
               ELSE 0.0 END)
            + (CASE WHEN cb > 0 THEN (cb::DOUBLE / nb)
                 * ln(2.0 * (cb * na)::DOUBLE
                      / ((ca * nb + cb * na)::DOUBLE))
               ELSE 0.0 END))) * 1073741824.0)::BIGINT AS q,
            ca > 0 AS ia, cb > 0 AS ib
          FROM j CROSS JOIN n)
    SELECT SUM(q)::DOUBLE / 1073741824.0 AS jsd,
           SUM(CASE WHEN ia THEN 1 ELSE 0 END)::BIGINT AS terms_a,
           SUM(CASE WHEN ib THEN 1 ELSE 0 END)::BIGINT AS terms_b,
           COUNT(*)::BIGINT AS terms_union,
           (SELECT na FROM n)::BIGINT AS tokens_a,
           (SELECT nb FROM n)::BIGINT AS tokens_b
    FROM c
"""


@query("q143_jensen_shannon", _Q143_ORACLE)
def q143_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats.jensen_shannon: corpus drift between the English and
    non-English document splits — per-term contributions are
    ln-of-int-product-ratios (no intermediate float distribution),
    floor-quantized at 2^-30 and summed as int64, so the divergence
    is exact in any partition order and replays bit-for-bit."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    en = _op("filter.apply", ctx, [d], expr="lang = 'en'")
    rest = _op("filter.apply", ctx, [d], expr="lang <> 'en'")
    return _op("stats.jensen_shannon", ctx, [en, rest], column="text")


_Q144_ORACLE = """
    WITH pool AS (SELECT doc_id, lang FROM documents
                  WHERE lang IS NOT NULL AND doc_id IS NOT NULL),
    c AS (SELECT lang, COUNT(*)::BIGINT AS n FROM pool GROUP BY lang),
    d AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
              list(sqrt(n::DOUBLE) ORDER BY lang)), (a, b) -> a + b) AS den,
            SUM(n)::BIGINT AS tot
          FROM c),
    r AS (SELECT c.lang,
            least(tot::DOUBLE * sqrt(n::DOUBLE) / den / n::DOUBLE,
                  10.0) AS rate
          FROM c CROSS JOIN d),
    j AS (SELECT p.doc_id, p.lang,
            floor(r.rate)::BIGINT AS f,
            floor((r.rate - floor(r.rate)) * 1000000.0)::BIGINT AS th
          FROM pool p JOIN r ON p.lang = r.lang),
    e AS (SELECT doc_id, lang, f, th, unnest(range(0, f + 1)) AS ep
          FROM j)
    SELECT doc_id, lang, ep::INT AS mix_epoch
    FROM e
    WHERE ep < f OR
          (('0x' || substr(md5(doc_id::VARCHAR || '#temp#' || lang
                               || '#' || ep::VARCHAR), 1, 15))::BIGINT
           % 1000000) < th
"""


@query("q144_sample_temperature", _Q144_ORACLE)
def q144_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample.temperature: the mT5/XLM-R multilingual rebalancing
    recipe — per-language rate = N * n^0.5 / sum(n^0.5) / n derived
    in-engine (alpha=0.5 is IEEE sqrt, correctly rounded in every
    engine), realized as full epochs + a hash-thresholded partial
    epoch. Low-resource languages upsample past their natural counts;
    selection is a pure function of (id, seed, lang, epoch)."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("sample.temperature", ctx, [d], by="lang",
              id_column="doc_id", alpha=0.5)
    return _op("select.apply", ctx, [out],
               columns=["doc_id", "lang", "mix_epoch"])


_Q145_ORACLE = f"""
    WITH RECURSIVE {_COMPONENTS_CTE},
    scored AS (SELECT c.id, c.component, len(d.text)::DOUBLE AS s
               FROM comp c JOIN documents d ON d.doc_id = c.id),
    r AS (SELECT id, component,
                 row_number() OVER (PARTITION BY component
                                    ORDER BY (s IS NULL), s DESC, id)
                 AS rn
          FROM scored)
    SELECT id, component, (rn = 1) AS kept FROM r
    UNION ALL
    SELECT doc_id AS id, doc_id AS component, TRUE AS kept
    FROM documents WHERE doc_id NOT IN (SELECT id FROM comp)
"""


@query("q145_dedup_resolve", _Q145_ORACLE)
def q145_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.resolve: the FULL near-dup endgame — minhash candidates
    -> jaccard verify -> connected components -> keep the LONGEST
    member of every duplicate cluster (max_score policy over
    len(text), the realistic curation choice) with unpaired docs kept
    as singletons. Transitive-safe where the naive drop-id_b rule
    over-drops chains. Oracle: recursive-CTE true components (shared
    with q53) + a per-component score argmax + the singleton union."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    cands = _op("dedup.minhash", ctx, [d], column="text", id_column="doc_id",
                num_hashes=16, bands=4, shingle="word", ngram=3)
    verified = _op("dedup.ngram_jaccard", ctx, [d, cands], column="text",
                   id_column="doc_id", shingle="word", ngram=3, threshold=0.5)
    scored = _op("map.apply", ctx, [d],
                 expression="cast(length(text) as double)",
                 output_column="quality")
    return _op("dedup.resolve", ctx, [verified, scored],
               policy="max_score", id_column="doc_id",
               score_column="quality")


# a page with VERBATIM repeated lines (nav/banner shape) plus a
# whitespace-variant repeat — one SQL string both engines parse
_Q146_PAGE = (
    # coalesce keeps the shared expression engine-agnostic on NULL
    # text: Spark concat is NULL-propagating, DuckDB's treats NULL
    # as '' — a future fixture with a NULL text row would hash-differ
    "concat("
    "substr(coalesce(text, ''), 1, 30 + doc_id % 20), chr(10), "
    "'Accept cookies to continue', chr(10), "
    "substr(coalesce(text, ''), 5, 25), chr(10), "
    "CASE WHEN doc_id % 2 = 0 THEN "
    "concat('  Accept cookies to continue ', chr(10)) ELSE '' END, "
    "'Accept cookies to continue', chr(10), "
    "CASE WHEN doc_id % 3 = 0 THEN concat(substr(coalesce(text, ''), 5, 25), chr(10)) "
    "ELSE '' END, "
    "chr(10), "
    "substr(coalesce(text, ''), 1, 12)"
    ")"
)


_Q146_ORACLE = f"""
    WITH page AS (SELECT doc_id, {_Q146_PAGE} AS p FROM documents),
    st AS (SELECT doc_id,
             string_split(p, chr(10)) AS lines,
             list_transform(string_split(p, chr(10)), l -> trim(l)) AS keys
           FROM page),
    sv AS (SELECT doc_id, lines,
             list_filter(range(1, len(lines) + 1),
               i -> keys[i] = '' OR list_position(keys, keys[i]) = i) AS surv
           FROM st)
    SELECT doc_id,
           array_to_string(list_transform(surv, i -> lines[i]), chr(10))
             AS page,
           (len(lines) - len(surv))::INT AS lines_removed
    FROM sv
"""


@query("q146_dedup_lines", _Q146_ORACLE)
def q146_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.dedup_lines: within-document repeated-line removal (the
    RefinedWeb cookie-banner/nav cleanup) over a synthetic page with
    verbatim and whitespace-variant repeats — first occurrence
    survives, blank lines are structure and never dedup. Pure
    per-row array exprs; the oracle replays the first-occurrence
    list_position filter identically."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    paged = _op("map.apply", ctx, [d], expression=_Q146_PAGE,
                output_column="page")
    out = _op("text.dedup_lines", ctx, [paged], column="page", key="trim")
    return _op("select.apply", ctx, [out],
               columns=["doc_id", "page", "lines_removed"])


_Q147_ORACLE = f"""
    WITH ra AS (SELECT doc_id,
                  row_number() OVER (ORDER BY len(text) DESC, doc_id)
                    AS r
                FROM documents QUALIFY r <= 20),
    rb AS (SELECT doc_id,
             row_number() OVER (
               ORDER BY len(list_distinct({_SQL_TOKENS})) DESC, doc_id)
               AS r
           FROM documents QUALIFY r <= 20),
    f AS (SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
            round(CASE
              WHEN ra.r IS NOT NULL AND rb.r IS NOT NULL
                THEN (0.0 + 1.0 / (60.0 + ra.r)) + 1.0 / (60.0 + rb.r)
              WHEN ra.r IS NOT NULL THEN 0.0 + 1.0 / (60.0 + ra.r)
              ELSE 0.0 + 1.0 / (60.0 + rb.r) END, 9) + 0.0 AS rrf_score
          FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
    SELECT doc_id, rrf_score,
           row_number() OVER (ORDER BY rrf_score DESC, doc_id)::INT
             AS rrf_rank
    FROM f
"""


@query("q147_rank_rrf", _Q147_ORACLE)
def q147_rank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank.rrf: reciprocal rank fusion of two candidate lists (by
    char length and by distinct-token count, top-20 each) — the
    calibration-free way to merge BM25 + dense-ANN + heuristic
    rankings. Contributions are one double expr over exact int ranks,
    folded in input order; the oracle replays the fold's exact
    addition grouping."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    ra = _op("sql.query", ctx, [d], views=["q147_a"], sql="""
        SELECT doc_id, rank FROM (
          SELECT doc_id, row_number() OVER (
            ORDER BY length(text) DESC, doc_id) AS rank
          FROM q147_a) WHERE rank <= 20
    """)
    rb = _op("sql.query", ctx, [d], views=["q147_b"], sql="""
        SELECT doc_id, rank FROM (
          SELECT doc_id, row_number() OVER (
            ORDER BY size(array_distinct(filter(
              split(lower(text), '\\\\s+'), x -> x != ''))) DESC,
            doc_id) AS rank
          FROM q147_b) WHERE rank <= 20
    """)
    return _op("rank.rrf", ctx, [ra, rb], id_column="doc_id", k=60)


_Q148_ORACLE = f"""
    WITH tok AS (SELECT lang AS cls, unnest({_SQL_TOKENS}) AS t
                 FROM documents WHERE lang IS NOT NULL),
    tc AS (SELECT t, cls, COUNT(*)::BIGINT AS ctc FROM tok GROUP BY t, cls),
    tm AS (SELECT t, SUM(ctc)::BIGINT AS ct FROM tc GROUP BY t),
    cm AS (SELECT cls, SUM(ctc)::BIGINT AS cc FROM tc GROUP BY cls),
    n AS (SELECT SUM(cc)::BIGINT AS n FROM cm),
    q AS (SELECT tc.t,
            floor(((ctc::DOUBLE / n)
                   * ln((n * ctc)::DOUBLE / (ct * cc)::DOUBLE))
                  * 1073741824.0)::BIGINT AS qq,
            ct
          FROM tc JOIN tm ON tc.t = tm.t JOIN cm ON tc.cls = cm.cls
          CROSS JOIN n),
    agg AS (SELECT t AS term,
              SUM(qq)::DOUBLE / 1073741824.0 AS mi,
              MIN(ct)::BIGINT AS count,
              COUNT(*)::INT AS classes
            FROM q GROUP BY t)
    SELECT term, mi, count, classes,
           row_number() OVER (ORDER BY mi DESC, term)::INT AS mi_rank
    FROM agg QUALIFY mi_rank <= 30
"""


@query("q148_mutual_information", _Q148_ORACLE)
def q148_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats.mutual_information: the 30 most language-discriminative
    terms of the corpus — per-(term, class) contributions are
    ln-of-int-product ratios floor-quantized at 2^-30 and summed as
    int64 per term (the q143 recipe), so the ranking replays
    bit-for-bit."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    return _op("stats.mutual_information", ctx, [d], column="text",
               class_column="lang", top_k=30)


_Q149_LNA = math.log(0.4)
_Q149_ORACLE = f"""
    WITH tkall AS (SELECT doc_id, lang, {_SQL_TOKENS} AS tk FROM documents),
    cpos AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM tkall),
    cgr AS (SELECT doc_id, i, tk[i] || ' ' || tk[i + 1] AS g,
                   tk[i] AS w1, tk[i + 1] AS w2
            FROM cpos),
    ref AS (SELECT tk FROM tkall WHERE lang = 'en'),
    uni AS (SELECT t AS w, COUNT(*)::BIGINT AS cw
            FROM (SELECT unnest(tk) AS t FROM ref) GROUP BY t),
    sc0 AS (SELECT COUNT(*)::BIGINT AS v, SUM(cw)::BIGINT AS nn FROM uni),
    rpos AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM ref),
    big AS (SELECT g, COUNT(*)::BIGINT AS cg
            FROM (SELECT tk[i] || ' ' || tk[i + 1] AS g FROM rpos)
            GROUP BY g),
    lpc AS (SELECT c.doc_id, c.i,
              CASE WHEN b.cg IS NOT NULL
                     THEN 0.0 + ln(b.cg::DOUBLE / u1.cw::DOUBLE)
                   WHEN u2.cw IS NOT NULL
                     THEN {_Q149_LNA!r} + ln(u2.cw::DOUBLE / s.nn::DOUBLE)
                   ELSE {_Q149_LNA!r} - ln(s.v::DOUBLE) END AS lp
            FROM cgr c
            LEFT JOIN big b ON c.g = b.g
            LEFT JOIN uni u1 ON c.w1 = u1.w
            LEFT JOIN uni u2 ON c.w2 = u2.w
            CROSS JOIN sc0 s),
    nll AS (SELECT doc_id, COUNT(*)::INT AS lm_ngrams,
              round(-list_reduce(list_prepend(0.0::DOUBLE,
                        list(lp ORDER BY i)), (a, b) -> a + b)
                    / COUNT(*), 9) AS nll
            FROM lpc GROUP BY doc_id)
    SELECT d.doc_id, n.nll AS nll,
           COALESCE(n.lm_ngrams, 0) AS lm_ngrams
    FROM documents d LEFT JOIN nll n ON d.doc_id = n.doc_id
"""


@query("q149_perplexity_backoff", _Q149_ORACLE)
def q149_perplexity_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.perplexity backoff='stupid': the Brants-et-al web-scale
    LM scoring rule — an unseen bigram backs off to alpha * the
    unigram estimate, fully-OOV words hit the alpha/V-class uniform
    floor (no +kV flattening of seen estimates). Every branch is a
    driver-embedded constant plus ln(int/int), folded per doc in
    position order; the oracle embeds the SAME ln(alpha) literal and
    replays the CASE chain."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    ref = _op("filter.apply", ctx, [d], expr="lang = 'en'")
    out = _op("text.perplexity", ctx, [d, ref], column="text",
              id_column="doc_id", order=2, backoff="stupid", alpha=0.4)
    return _op("select.apply", ctx, [out],
               columns=["doc_id", "nll", "lm_ngrams"])


_Q150_ORACLE = f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    tok AS (SELECT doc_id, unnest(tk) AS t FROM tk),
    cnts AS (SELECT doc_id, t, COUNT(*)::BIGINT AS c
             FROM tok GROUP BY doc_id, t),
    g AS (SELECT doc_id, list_sort(list(c)) AS ac, SUM(c)::BIGINT AS n
          FROM cnts GROUP BY doc_id),
    calc AS (SELECT doc_id,
               2.0 * (list_reduce(list_prepend(0::BIGINT,
                        list_transform(range(1, len(ac) + 1),
                                       i -> i * ac[i])),
                        (a, b) -> a + b))::DOUBLE
                 / ((len(ac)::BIGINT * n))::DOUBLE
               - (len(ac) + 1)::DOUBLE / len(ac)::DOUBLE AS gini
             FROM g)
    SELECT d.doc_id, calc.gini
    FROM documents d LEFT JOIN calc USING (doc_id)
"""


@query("q150_text_gini", _Q150_ORACLE)
def q150_text_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.gini: Gini concentration of each document's token
    histogram (the SEO-stuffing / log-spam skew signal, entropy's
    concentration complement). Every aggregate is an exact int64;
    the final value is two int-ratio divisions and a subtract — no
    rounding anywhere, bit-identical in both engines."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents")
    out = _op("text.gini", ctx, [d], column="text", unit="token")
    return _op("select.apply", ctx, [out], columns=["doc_id", "gini"])


def _q151_oracle() -> str:
    """q128's bitext-margin replay over a COMPOSITE block: label plus
    one 4-bit hyperplane-LSH band (sign_matrix(8, 64) planes, low 4
    bits), mirroring embedding.lsh -> map.apply -> mine.bitext."""
    from conveyor_spark.datapipe.emb_lsh import sign_matrix

    planes = sign_matrix(8, 64)
    terms = " + ".join(
        "(CASE WHEN list_dot_product(v, [{signs}]) > 0 THEN {p} ELSE 0 END)".format(
            signs=", ".join(f"{s:.1f}" for s in planes[j]), p=2**j
        )
        for j in range(8)
    )
    return f"""
    WITH e0 AS (SELECT vec_id, label,
                       list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings),
    e AS (SELECT vec_id, v,
                 label::VARCHAR || '|' ||
                   ((({terms})::BIGINT % 16))::VARCHAR AS blk
          FROM e0),
    s AS (SELECT vec_id AS sid, blk, v,
                 sqrt(list_dot_product(v, v)) AS n
          FROM e WHERE vec_id % 2 = 0),
    t AS (SELECT vec_id AS tid, blk, v,
                 sqrt(list_dot_product(v, v)) AS n
          FROM e WHERE vec_id % 2 = 1),
    p AS (SELECT s.sid, t.tid,
                 round(list_dot_product(s.v, t.v) / (s.n * t.n), 6) AS cos
          FROM s JOIN t ON s.blk = t.blk),
    rs AS (SELECT sid, tid, cos,
                  row_number() OVER (PARTITION BY sid
                                     ORDER BY cos DESC, tid) AS r FROM p),
    sa AS (SELECT sid,
                  list_reduce(list_prepend(0.0::DOUBLE,
                      list(cos ORDER BY r)), (a, b) -> a + b)
                  / COUNT(*) AS sa
           FROM rs WHERE r <= 3 GROUP BY sid),
    rt AS (SELECT sid, tid, cos,
                  row_number() OVER (PARTITION BY tid
                                     ORDER BY cos DESC, sid) AS r FROM p),
    ta AS (SELECT tid,
                  list_reduce(list_prepend(0.0::DOUBLE,
                      list(cos ORDER BY r)), (a, b) -> a + b)
                  / COUNT(*) AS ta
           FROM rt WHERE r <= 3 GROUP BY tid),
    m AS (SELECT p.sid, p.tid, p.cos,
                 CASE WHEN (sa.sa + ta.ta) * 0.5 > 0
                      THEN round(p.cos / ((sa.sa + ta.ta) * 0.5), 9)
                 END AS mg
          FROM p JOIN sa ON p.sid = sa.sid JOIN ta ON p.tid = ta.tid),
    bs AS (SELECT sid, tid, cos, mg,
                  row_number() OVER (PARTITION BY sid
                                     ORDER BY mg DESC, tid) AS rb FROM m),
    bt AS (SELECT sid, tid FROM (
               SELECT sid, tid,
                      row_number() OVER (PARTITION BY tid
                                         ORDER BY mg DESC, sid) AS rb
               FROM m) WHERE rb = 1)
    SELECT b.sid AS src_vec_id, b.tid AS tgt_vec_id,
           b.cos AS cosine, b.mg AS margin
    FROM bs b JOIN bt ON b.sid = bt.sid AND b.tid = bt.tid
    WHERE b.rb = 1 AND b.mg >= 1.0
    """


@query("q151_bitext_lsh_blocked", _q151_oracle())
def q151_bitext_lsh_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mine.bitext over a COMPOSITE block — label refined by one
    4-bit hyperplane-LSH band (embedding.lsh signatures) — the
    executable form of the op's documented scale knob: q128's
    label-only blocking goes quadratic when labels are coarse
    (64x-Zipf probe: ~5.8k-row buckets, 3.8 GB spill), while a
    finer bucket_column bounds per-block pair work with LSH keeping
    similar vectors co-blocked for recall. The oracle replays the
    Rademacher planes, the composite block, cosine, the top-3
    neighborhood means, the margin, and both argmax directions.
    Each side is filtered BEFORE it is signed: the signature UDF is
    nondeterministic, so a filter above it is never pushed below it,
    and filtering after signing would sign the whole table per side
    (the signature and the block are per-row, so the output is the
    same)."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")

    def side(parity: int) -> DataFrame:
        half = _op("filter.apply", ctx, [e], expr=f"vec_id % 2 = {parity}")
        sig = _op("embedding.lsh", ctx, [half], column="embedding",
                  bits=8, dim=64)
        return _op("map.apply", ctx, [sig],
                   expression="concat(CAST(label AS STRING), '|', "
                              "CAST(lsh_sig % 16 AS STRING))",
                   output_column="block")

    return _op("mine.bitext", ctx, [side(0), side(1)], id_column="vec_id",
               column="embedding", bucket_column="block", k=3,
               threshold=1.0, mutual=True)


@query(
    "q154_stream_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q154_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream.dedup: watermark-bounded streaming deduplication
    (dropDuplicatesWithinWatermark — state for keys older than the
    watermark horizon is evicted, the property that makes dedup
    runnable on an unbounded stream). An availableNow drain of one
    file is a single micro-batch, so no row is late and the emitted
    first-seen rows projected to their key columns are exactly the
    distinct key set — which is what the oracle replays (WHICH row
    of a key is first-seen is partition-order-dependent, so the
    query's contract surface is the keys, not the carried values)."""
    from conveyor_spark.streaming.ops import (
        read_file_stream, run_available_now,
    )

    ctx = _ctx(spark)
    schema = raw_schema(spark, sf_dir, "events")
    sdf = _read_events_stream(spark, sf_dir, schema)
    if dict(sdf.dtypes).get("ts") == "bigint":
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ded = _op("stream.dedup", ctx, [sdf],
              columns=["user_id", "event_type"],
              time_column="ts", watermark="1 hour")
    ded = ded.select("user_id", "event_type")
    return run_available_now(
        ded, "q154_dedup", output_mode="append", state_partitions=8
    )


@query(
    "q155_py_group_eval",
    """
    SELECT o_custkey,
           COUNT(*)::BIGINT AS n_orders,
           MIN(o_orderkey) AS first_orderkey,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_custkey
    """,
)
def q155_py_group_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """py.group_eval: the grouped-map scripted UDF (applyInPandas —
    the reference's js.eval surface extended to whole-group scope,
    plugins-wasm lib.rs:61-72). The script sees each customer's full
    order frame and emits one summary row; every output is an
    order-invariant exact value (count / min int64 / max double), so
    the pandas fold and the SQL aggregate agree bit-for-bit. One
    shuffle on the group key — the op's documented cost model."""
    ctx = _ctx(spark)
    o = load_table(spark, sf_dir, "orders")
    o = _op("select.apply", ctx, [o],
            columns=["o_custkey", "o_orderkey", "o_totalprice"])
    script = (
        "import pandas as pd\n"
        "def transform(key, pdf):\n"
        "    return pd.DataFrame({\n"
        "        'o_custkey': [key[0]],\n"
        "        'n_orders': [len(pdf)],\n"
        "        'first_orderkey': [pdf['o_orderkey'].min()],\n"
        "        'max_price': [pdf['o_totalprice'].max()],\n"
        "    })\n"
    )
    return _op(
        "py.group_eval", ctx, [o], script=script, group_by=["o_custkey"],
        output_schema="o_custkey BIGINT, n_orders BIGINT, "
                      "first_orderkey BIGINT, max_price DOUBLE",
    )


@query(
    "q156_media_resize",
    """
    WITH px AS (
      SELECT d.doc_id,
             ((d.doc_id * 7 + 13 * (2 * g.y) + 2 * g.x) % 256)::DOUBLE AS p
      FROM documents d,
           (SELECT x.x, y.y
            FROM (SELECT unnest(range(8)) AS x) x,
                 (SELECT unnest(range(8)) AS y) y) g
    )
    SELECT doc_id,
           8 AS width, 8 AS height, 1 AS channels,
           SUM(p) / 64 AS mean_v,
           sqrt(SUM(p * p) / 64 - (SUM(p) / 64) * (SUM(p) / 64)) AS std_v
    FROM px GROUP BY doc_id
    """,
)
def q156_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media.resize, hash-exact end-to-end: each doc_id becomes a
    16x16 gray PNG with pixel (doc_id*7 + 13y + x) % 256, media.resize
    halves it to 8x8 (nearest-neighbor grid floor(i*16/8) = even
    rows/cols), and media.pixel_stats decodes the RE-ENCODED bytes.
    The oracle computes the same statistics analytically from the
    pixel formula AT THE SAMPLED POSITIONS (2y, 2x) — a value match
    proves decode -> NN index sampling -> re-encode -> decode -> stats
    bit-exactly (dyadic rationals < 2^53 throughout, q104's argument).

    Scale: three mapInPandas passes with NO keyed shuffle (the only
    exchanges are the round-robin widens that spread the toy-scale
    single-file scan; on a real multi-file corpus widen() no-ops);
    resize SHRINKS bytes 4x before anything downstream — the
    thumbnail-normalization shape for a 100 TB image corpus."""
    ctx = _ctx(spark)
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from conveyor_spark.datapipe.codecs import png_encode

        grid = 13 * np.arange(16)[:, None] + np.arange(16)[None, :]
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "data": [
                    png_encode(((int(i) * 7 + grid) % 256).astype("uint8"))
                    for i in pdf["doc_id"]
                ],
            })

    imgs = d.mapInPandas(synth, "doc_id LONG, data BINARY")
    small = _op("media.resize", ctx, [imgs], column="data",
                width=8, height=8, format="png", on_error="fail")
    out = _op("media.pixel_stats", ctx, [small], column="data",
              on_error="fail")
    for name, expr in [
        ("width", "pixel_stats.width"), ("height", "pixel_stats.height"),
        ("channels", "pixel_stats.channels"),
        ("mean_v", "pixel_stats.mean[0]"), ("std_v", "pixel_stats.std[0]"),
    ]:
        out = _op("map.apply", ctx, [out], expression=expr,
                  output_column=name)
    return _op("select.apply", ctx, [out], columns=[
        "doc_id", "width", "height", "channels", "mean_v", "std_v",
    ])


@query(
    "q157_validate_expectations",
    """
    WITH t AS (
      SELECT COUNT(*)::BIGINT AS rows_,
             COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END)::BIGINT AS nulls_,
             COUNT(DISTINCT l_orderkey)::BIGINT AS dist_,
             COUNT(l_orderkey)::BIGINT AS nonnull_,
             COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50
                        THEN 1 END)::BIGINT AS oob_,
             COUNT(CASE WHEN regexp_matches(l_returnflag, '^A')
                        THEN 1 END)::BIGINT AS match_,
             COUNT(l_returnflag)::BIGINT AS rf_nonnull_,
             COUNT(CASE WHEN l_linestatus NOT IN ('O', 'F')
                        THEN 1 END)::BIGINT AS bad_
      FROM lineitem)
    SELECT * FROM (
      SELECT 'row_count' AS expectation, rows_ >= 1 AS passed,
             'rows=' || rows_ AS detail FROM t
      UNION ALL
      SELECT 'not_null(l_orderkey)', nulls_::DOUBLE / rows_::DOUBLE <= 0.0,
             'null_fraction=' || printf('%.6f', nulls_::DOUBLE / rows_::DOUBLE)
      FROM t
      UNION ALL
      SELECT 'unique(l_orderkey)', dist_ = nonnull_,
             'distinct=' || dist_ || ' nonnull=' || nonnull_ FROM t
      UNION ALL
      SELECT 'in_range(l_quantity)', oob_ = 0, 'out_of_range=' || oob_ FROM t
      UNION ALL
      SELECT 'matches(l_returnflag)',
             match_::DOUBLE / rf_nonnull_::DOUBLE >= 0.1,
             'match_fraction=' ||
               printf('%.6f', match_::DOUBLE / rf_nonnull_::DOUBLE) FROM t
      UNION ALL
      SELECT 'accepted_values(l_linestatus)', bad_ = 0, 'bad=' || bad_ FROM t
    )
    """,
)
def q157_validate_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """validate.expectations mode=report: six dataset-level quality
    gates (row count, null fraction, uniqueness, range, regex
    fraction, accepted values) computed in ONE global aggregate over
    lineitem, returned as a metrics frame. The oracle recomputes every
    observed value and the formatted detail strings — including the
    %.6f fractions, which are correctly-rounded decimal renderings of
    the same IEEE double in Python and DuckDB's printf. unique is
    expected to FAIL (orders have multiple lines); the failing row's
    exact counts are part of the contract."""
    ctx = _ctx(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return _op("validate.expectations", ctx, [li], mode="report",
               expectations=[
                   {"kind": "row_count", "min": 1},
                   {"kind": "not_null", "column": "l_orderkey"},
                   {"kind": "unique", "column": "l_orderkey"},
                   {"kind": "in_range", "column": "l_quantity",
                    "min": 1, "max": 50},
                   {"kind": "matches", "column": "l_returnflag",
                    "pattern": "^A", "min_fraction": 0.1},
                   {"kind": "accepted_values", "column": "l_linestatus",
                    "values": ["O", "F"]},
               ])


@query(
    "q158_stage_pipeline",
    """
    SELECT l_returnflag,
           COUNT(*)::BIGINT AS n_lines,
           MAX(l_quantity) AS max_qty
    FROM lineitem WHERE l_quantity > 45
    GROUP BY l_returnflag
    """,
)
def q158_stage_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stage.pipeline: sub-pipeline composition as ONE stage
    (reference pipeline.rs:51-194) — the parent's DataFrame is
    spliced into the child spec via inputs=["__parent__"], the child
    (filter -> groupby) compiles into the SAME lazy Catalyst plan
    (no materialization at the composition boundary), and the
    terminal stage's output is returned. The oracle replays the
    composed semantics directly; order-invariant exact aggregates
    keep the hash comparison bit-exact."""
    ctx = _ctx(spark)
    li = load_table(spark, sf_dir, "lineitem")
    inline = """
[[stages]]
id = "hot"
function = "filter.apply"
inputs = ["__parent__"]
[stages.config]
column = "l_quantity"
operator = ">"
value = 45

[[stages]]
id = "agg"
function = "groupby.apply"
inputs = ["hot"]
[stages.config]
by = "l_returnflag"
aggregations = [
  {column = "l_returnflag", operation = "count", output_column = "n_lines"},
  {column = "l_quantity", operation = "max", output_column = "max_qty"},
]
"""
    return _op("stage.pipeline", ctx, [li], inline=inline)


@query(
    "q159_approx_sketches",
    """
    SELECT l_linestatus,
           COUNT(DISTINCT l_returnflag)::BIGINT AS rf_distinct,
           quantile_disc(l_quantity, 0.33) AS q33,
           quantile_disc(l_quantity, 0.51) AS q51,
           quantile_disc(l_quantity, 0.87) AS q87
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q159_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx.count_distinct + approx.quantiles, oracle-gated in their
    PROVABLY-EXACT regimes: HLL++ stays in its sparse (exact)
    representation below ~thousands of distinct values (3 here), and
    the GK quantile sketch's rank error n/accuracy (= 60 ranks at
    sf0.1) cannot cross a value boundary when every value's run is
    ~2% of the rows and the probed probabilities (0.33/0.51/0.87)
    sit mid-run. percentile_approx's rank definition (smallest value
    with cumulative fraction >= p) coincides with DuckDB's
    quantile_disc — verified including the empirical-wobble boundary
    at sf0.001 where both engines pick 16. At true scale the same
    sketches answer these questions with constant memory where the
    exact forms would shuffle; the exactness regime is the
    CORRECTNESS gate, not the use case."""
    ctx = _ctx(spark)
    li = load_table(spark, sf_dir, "lineitem")
    a = _op("approx.count_distinct", ctx, [li], column="l_returnflag",
            rsd=0.05, by="l_linestatus")
    q = _op("approx.quantiles", ctx, [li], column="l_quantity",
            probabilities=[0.33, 0.51, 0.87], accuracy=10000,
            by="l_linestatus")
    j = _op("join.apply", ctx, [a, q], on="l_linestatus")
    for name, expr in [
        ("rf_distinct", "l_returnflag_approx_distinct"),
        ("q33", "l_quantity_quantiles[0]"),
        ("q51", "l_quantity_quantiles[1]"),
        ("q87", "l_quantity_quantiles[2]"),
    ]:
        j = _op("map.apply", ctx, [j], expression=expr, output_column=name)
    return _op("select.apply", ctx, [j], columns=[
        "l_linestatus", "rf_distinct", "q33", "q51", "q87",
    ])


def _fuzzy_cand_oracle(num_hashes: int = 16, bands: int = 8) -> str:
    """DuckDB replay of q160's FULL pipeline: distinct-name collapse,
    char-4-gram MinHash-LSH blocking over the DISTINCT names (the
    same 28-bit md5 base hash + universal-hash mins + banded md5
    signatures dedup.minhash computes), Levenshtein verify, then the
    directional probe->catalog projection with multiplicities — the
    oracle replays the blocking itself, so LSH recall choices cannot
    hide behind the comparison."""
    from conveyor_spark.datapipe.dedup import MINHASH_P, minhash_params

    r = num_hashes // bands
    params = [minhash_params(i) for i in range(num_hashes)]
    hash_cols = ",\n             ".join(
        f"list_min(list_transform(bh, v -> ({a} * v + {b}) % {MINHASH_P})) AS h{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT rep, {b} AS band, md5(concat_ws('_', {cols})) AS sig FROM sig".format(
            b=b, cols=", ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
    WITH nm AS (
      SELECT lower(p_name) AS s, min(p_partkey) AS rep,
             sum(CASE WHEN p_partkey % 101 = 0 THEN 1 ELSE 0 END)::BIGINT
               AS probe_rows,
             count(*)::BIGINT AS catalog_rows
      FROM part GROUP BY lower(p_name)),
    sh AS (SELECT rep, list_distinct(list_transform(
             range(1, greatest(len(s) - 3, 1) + 1),
             i -> substring(s, i, 4))) AS sh FROM nm),
    bh AS (SELECT rep, list_transform(sh, x ->
             (('0x' || substr(md5(x), 1, 7))::BIGINT)) AS bh FROM sh),
    sig AS (SELECT rep,
             {hash_cols}
            FROM bh),
    bands AS (
      {band_selects}
    ),
    cand AS (SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b
             FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
             WHERE a.rep < b.rep),
    ver AS (SELECT c.rep_a, c.rep_b, na.s AS s_a, nb.s AS s_b,
                   levenshtein(na.s, nb.s)::INT AS distance
            FROM cand c JOIN nm na ON c.rep_a = na.rep
                        JOIN nm nb ON c.rep_b = nb.rep
            WHERE levenshtein(na.s, nb.s) <= 3),
    sym AS (
      SELECT rep_a AS rep_p, rep_b AS rep_c, s_a AS s_probe,
             s_b AS s_catalog, distance FROM ver
      UNION ALL
      SELECT rep_b, rep_a, s_b, s_a, distance FROM ver
      UNION ALL
      SELECT rep, rep, s, s, 0 FROM nm)
    SELECT y.s_probe, y.s_catalog, y.distance,
           np.probe_rows AS probe_rows, nc.catalog_rows AS catalog_rows
    FROM sym y JOIN nm np ON y.rep_p = np.rep
               JOIN nm nc ON y.rep_c = nc.rep
    WHERE np.probe_rows > 0
    """


@query("q160_fuzzy_join_candidates", _fuzzy_cand_oracle())
def q160_fuzzy_join_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join.fuzzy CANDIDATES MODE at the distinct-string level — the
    fuzzy family's zero-spill scale path (VERDICT r10 item 2).

    q64's armed q-gram guard still ships a pair stream quadratic in
    gram doc frequency BY SEMANTICS (2.6 GB spill at 64x Zipf), and
    no blocking scheme can fix an ID-level pair contract on a corpus
    with unbounded exact-duplicate clusters: every copy of a hot name
    must pair with every probe copy, so the OUTPUT is quadratic in
    replication. The 100 TB move is to collapse exact duplicates
    FIRST: fuzzy-match the DISTINCT strings (bounded by vocabulary,
    not corpus size), carry multiplicities, and leave the id-level
    fan-out (probe_rows x catalog_rows per matched name pair) as a
    documented output-bound downstream join for callers that truly
    need id pairs.

    Pipeline: lower + probe flag -> groupby collapse to (name, rep,
    probe_rows, catalog_rows) -> dedup.minhash over char 4-grams
    (16 hashes / 8 bands; shuffles only (rep, band, sig) fixed-width
    rows) -> join.fuzzy candidates mode (thresholded Levenshtein on
    LSH candidates only) -> directional probe->catalog projection
    with self-matches (distance 0) and multiplicities. Every stage's
    volume is bounded by DISTINCT-name counts at any replication —
    zero-spill by construction, the q52 pattern taken one level
    deeper. Recall follows the LSH curve over gram-set jaccard (the
    documented trade vs q64's completeness bound); the oracle
    replays the blocking, so the comparison stays exact.

    The collapsed names table feeds SIX downstream consumers
    (blocking, both verify sides, self rows, both multiplicity
    joins); without help each recomputes the full corpus scan +
    collapse (measured: 11 FileScans, zero ReusedExchange — the
    consumers' projections differ, so canonical plans never match).
    names is vocabulary-bounded (KBs), so it is .cache()d: the
    scan+collapse runs ONCE and every consumer reads the
    InMemoryTableScan (audit-asserted). Kept lineage means executor
    loss just recomputes (fault-tolerant, unlike localCheckpoint).
    Finding from building this (now fixed in sql_query.py):
    Catalog.dropTempView cascade-UNCACHES any cache whose plan
    matches the dropped view — sql.query's view cleanup silently
    evicted this cache until the op switched to the SessionCatalog
    name-only drop. The projection stays DataFrame-API regardless
    (no view round-trip needed)."""
    ctx = _ctx(spark)
    p = load_table(spark, sf_dir, "part")
    low = _op("map.apply", ctx, [p], expression="lower(p_name)",
              output_column="s")
    flg = _op("map.apply", ctx, [low],
              expression="case when p_partkey % 101 = 0 then 1 else 0 end",
              output_column="is_probe")
    names = _op("groupby.apply", ctx, [flg], by=["s"], aggregations=[
        {"column": "p_partkey", "operation": "min", "alias": "rep"},
        {"column": "is_probe", "operation": "sum", "alias": "probe_rows"},
        {"column": "p_partkey", "operation": "count", "alias": "catalog_rows"},
    ]).cache()
    cand = _op("dedup.minhash", ctx, [names], column="s", id_column="rep",
               num_hashes=16, bands=8, shingle="char", ngram=4)
    fz = _op("join.fuzzy", ctx, [names, names, cand], on="s",
             id_column="rep", max_distance=3)
    sym = (
        fz.select(F.col("id_a").alias("rep_p"), F.col("id_b").alias("rep_c"),
                  F.col("s_a").alias("s_probe"),
                  F.col("s_b").alias("s_catalog"), "distance")
        .unionByName(fz.select(
            F.col("id_b").alias("rep_p"), F.col("id_a").alias("rep_c"),
            F.col("s_b").alias("s_probe"), F.col("s_a").alias("s_catalog"),
            "distance"))
        .unionByName(names.select(
            F.col("rep").alias("rep_p"), F.col("rep").alias("rep_c"),
            F.col("s").alias("s_probe"), F.col("s").alias("s_catalog"),
            F.lit(0).alias("distance")))
    )
    return (
        sym.join(names.select(F.col("rep").alias("rep_p"), "probe_rows"),
                 "rep_p")
        .join(names.select(F.col("rep").alias("rep_c"), "catalog_rows"),
              "rep_c")
        .filter(F.col("probe_rows") > 0)
        .select("s_probe", "s_catalog", "distance",
                "probe_rows", "catalog_rows")
    )


def _lsh_pq_oracle(bits: int, bands: int, k: int, dim: int,
                   max_bucket: int, m: int, kw: int, iterations: int,
                   rerank: int) -> str:
    """Replay knn.lsh verify='pq' END-TO-END in DuckDB: the 48
    deterministic hyperplanes + banding + hot-bucket guard (q152's
    oracle), per-subspace PQ training (q121's floor-quantized int64
    recipe), the SDC codeword-dot tables, the code-only approximate
    cosine + per-query rerank cut, and the exact cosine re-rank of
    the survivors. A hash match certifies the whole compressed-verify
    path — screen ordering included — is partition-order-independent
    and engine-exact."""
    from conveyor_spark.datapipe.emb_lsh import sign_matrix

    planes = sign_matrix(bits, dim)
    terms = " + ".join(
        "(CASE WHEN list_dot_product(v, [{signs}]) > 0 THEN {p} ELSE 0 END)".format(
            signs=", ".join(f"{s:.1f}" for s in planes[j]), p=2**j
        )
        for j in range(bits)
    )
    width = bits // bands
    js = ", ".join(f"({j})" for j in range(bands))
    sd = dim // m
    fold_dist = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {sd + 1}), "
        "i -> ({a}[i]::DOUBLE - {b}[i]) * ({a}[i]::DOUBLE - {b}[i]))), "
        "(x, y) -> x + y)"
    )
    fold_dot = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {sd + 1}), "
        "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), "
        "(x, y) -> x + y)"
    )
    blocks = [
        # --- LSH candidates (the q152 oracle, verbatim recipe) ---
        f"""s AS (SELECT vec_id, v, ({terms})::BIGINT AS sig,
                 sqrt(list_dot_product(v, v)) AS nrm FROM e)""",
        f"""b AS (SELECT vec_id, t.j, (sig >> (t.j * {width})) & {2**width - 1} AS val
          FROM s, (VALUES {js}) t(j)
          QUALIFY count(*) OVER (PARTITION BY t.j,
              (sig >> (t.j * {width})) & {2**width - 1}) <= {max_bucket})""",
        """cand AS (SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
             FROM b a JOIN b c ON a.j = c.j AND a.val = c.val
                      AND a.vec_id <> c.vec_id)""",
        # --- PQ training + encode (the q121 oracle recipe) ---
        f"""sub AS (SELECT vec_id, sp.s,
               list_slice(v, sp.s * {sd} + 1, (sp.s + 1) * {sd}) AS sv
        FROM e CROSS JOIN (SELECT unnest(range(0, {m}))::INT AS s) sp)""",
        f"""c0 AS (SELECT s,
               (row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1)::INT AS j,
               list_transform(sv, x -> x::DOUBLE) AS cv
        FROM sub WHERE vec_id IN
             (SELECT vec_id FROM e ORDER BY vec_id LIMIT {kw}))""",
    ]
    for t in range(1, iterations + 2):  # last pass = encode only
        prev = f"c{t - 1}"
        blocks.append(f"""d{t} AS (
        SELECT sub.vec_id, sub.s, sub.sv, c.j,
               {fold_dist.format(a='sub.sv', b='c.cv')} AS dist
        FROM sub JOIN {prev} c ON sub.s = c.s)""")
        blocks.append(f"""a{t} AS (
        SELECT vec_id, s, sv, j FROM (
            SELECT vec_id, s, sv, j,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY dist, j) AS rn
            FROM d{t}) WHERE rn = 1)""")
        if t <= iterations:
            blocks.append(f"""s{t} AS (
        SELECT a.s, a.j, dims.i,
               SUM(floor(a.sv[dims.i]::DOUBLE * 1048576.0)::BIGINT) AS sm,
               COUNT(*)::BIGINT AS n
        FROM a{t} a CROSS JOIN
             (SELECT unnest(range(1, {sd + 1})) AS i) dims
        GROUP BY a.s, a.j, dims.i)""")
            blocks.append(f"""c{t} AS (
        SELECT c0.s, c0.j,
               COALESCE(u.cv, (SELECT cv FROM {prev} p
                               WHERE p.s = c0.s AND p.j = c0.j)) AS cv
        FROM c0 LEFT JOIN (
            SELECT s, j, list(sm::DOUBLE / (1048576.0 * n) ORDER BY i) AS cv
            FROM s{t} GROUP BY s, j) u
        ON c0.s = u.s AND c0.j = u.j)""")
    enc = f"a{iterations + 1}"
    cb = f"c{iterations}"
    blocks += [
        # --- SDC screen: codeword-dot tables, code norms, approximate
        # cosine, per-query rerank cut ---
        f"""tb AS (SELECT ca.s, ca.j AS i, cb2.j AS j2,
               {fold_dot.format(a='ca.cv', b='cb2.cv')} AS d
        FROM {cb} ca JOIN {cb} cb2 ON ca.s = cb2.s)""",
        f"""n2 AS (SELECT a.vec_id,
               sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                   list(tb.d ORDER BY a.s)), (x, y) -> x + y)) AS cn
        FROM {enc} a JOIN tb ON tb.s = a.s AND tb.i = a.j AND tb.j2 = a.j
        GROUP BY a.vec_id)""",
        """n2f AS (SELECT * FROM n2 WHERE cn > 0 AND NOT isnan(cn))""",
        f"""psub AS (SELECT cd.query_id, cd.neighbor_id, aa.s, tb.d
        FROM cand cd
        JOIN {enc} aa ON aa.vec_id = cd.query_id
        JOIN {enc} ab ON ab.vec_id = cd.neighbor_id AND ab.s = aa.s
        JOIN tb ON tb.s = aa.s AND tb.i = aa.j AND tb.j2 = ab.j)""",
        """ap AS (SELECT p.query_id, p.neighbor_id,
               round(list_reduce(list_prepend(0.0::DOUBLE,
                   list(p.d ORDER BY p.s)), (x, y) -> x + y)
                   / (qn.cn * cn2.cn), 9) AS approx
        FROM psub p
        JOIN n2f qn ON qn.vec_id = p.query_id
        JOIN n2f cn2 ON cn2.vec_id = p.neighbor_id
        GROUP BY p.query_id, p.neighbor_id, qn.cn, cn2.cn)""",
        f"""rr AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx DESC, neighbor_id) AS rn
        FROM ap) WHERE rn <= {rerank})""",
        # --- exact re-rank of the survivors (q152's exact tail) ---
        """sc AS (SELECT r.query_id, r.neighbor_id,
               round(list_dot_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6) AS cosine
        FROM rr r JOIN s sa ON sa.vec_id = r.query_id
                  JOIN s sb ON sb.vec_id = r.neighbor_id)""",
    ]
    return (
        "WITH e AS (SELECT vec_id, "
        "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),\n"
        + ",\n".join(blocks)
        + f"""
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id)::INT AS rank
      FROM sc)
    WHERE rank <= {k}"""
    )


@query("q161_knn_lsh_pq_verify",
       _lsh_pq_oracle(bits=48, bands=4, k=3, dim=64, max_bucket=1024,
                      m=4, kw=16, iterations=1, rerank=6))
def q161_knn_lsh_pq_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn.lsh verify='pq' at the q152 scale configuration — the
    1024x ANN residual's fix: SCALE_PROBE_r11_x1024_knobs decomposed
    the remaining cost into the n-linear candidate x VECTOR-WIDTH
    stream, so this path cuts the width — candidates are scored from
    m-byte PQ codes (SDC table lookups; the vectors do NOT ride the
    candidate shuffle) and only the top ``rerank`` per query join the
    raw vectors for the exact cosine. The oracle replays planes,
    banding, hot-bucket guard, PQ training, SDC tables, the screen's
    rank cut AND the exact re-rank in SQL — hash-exact, the q160
    standard: the scale path is certified, not just bounded. At the
    probe's measured defaults (m=4, codewords=16, rerank=2k) the
    screen keeps recall 1.0 at sf0.01 vs verify='exact'."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    return _op("knn.lsh", ctx, [e], id_column="vec_id", k=3, dim=64,
               bits=48, bands=4, max_bucket=1024,
               verify="pq", m=4, codewords=16, iterations=1, rerank=6)


@query("q162_pq_encode_gemm",
       _pq_oracle(m=4, kw=4, iterations=1, dim=64, nq=5, topk=3))
def q162_pq_encode_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retired-alias certification: q126's train-once pipeline
    with embedding.pq_encode given encode_method='gemm'. Since the
    encode-engine merge both encode_method values run the one Arrow
    UDF encode, so this query and q126 (the default) must return the
    same rows; sharing q126's oracle VERBATIM checks that the alias
    still runs and still hash-matches. The encode's own contract is
    bit-exactness with the training fold (sequential per-dim
    accumulation preserves its IEEE order, first-occurrence argmin =
    the ties-to-lowest rule)."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    books = _op("embedding.pq", ctx, [e], id_column="vec_id",
                column="embedding", m=4, k=4, iterations=1, dim=64,
                output="codebooks")
    encoded = _op("embedding.pq_encode", ctx, [e, books],
                  id_column="vec_id", column="embedding",
                  encode_method="gemm")
    q = _op("filter.apply", ctx, [e], expr="vec_id < 5")
    return _op("knn.pq", ctx, [encoded, q, books], id_column="vec_id",
               column="embedding", code_column="pq_code", k=3)


def _fold_dim_sql(dim: int) -> str:
    """The full-dim squared-L2 fold template shared by the IVFPQ
    oracles (left-to-right per-dim order, ::DOUBLE casts — the
    load-bearing determinism contract; one copy so q163 and
    q164/q165 can never replay different arithmetic)."""
    return (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {dim + 1}), "
        "i -> ({a}[i]::DOUBLE - {b}[i]) * ({a}[i]::DOUBLE - {b}[i]))), "
        "(x, y) -> x + y)"
    )


def _ivfpq_oracle(kcells: int, km_iters: int, m: int, kw: int,
                  pq_iters: int, dim: int, nq: int, nprobe: int,
                  topk: int) -> str:
    """Replay knn.ivfpq end-to-end in DuckDB: coarse k-means training
    + cell assignment (_kmeans_cte), PQ training + encode
    (_pq_train_cte, prefixed 'p' — both builders use c/d/a/s names),
    exact query-to-centroid probe ranking (nprobe cells, ties to the
    lower cell), cell-restricted ADC scoring, top-k. The quantizer
    the assignment used is c{km_iters-1} — embedding.kmeans assign
    mode skips the final centroid update — which is exactly what
    output='centroids' at iterations=km_iters-1 returns, so the
    Spark composition and this SQL rank probes against the SAME
    centroids."""
    kctes, cells = _kmeans_cte(kcells, km_iters)
    quant = f"c{km_iters - 1}"
    pblocks, psub, pcb, penc, fold_sd = _pq_train_cte(
        m, kw, pq_iters, dim, prefix="p")
    fold_dim = _fold_dim_sql(dim)
    blocks = pblocks + [
        f"""pdist AS (SELECT q.vec_id AS qid, c.c AS cell,
               {fold_dim.format(a='q.v', b='c.cv')} AS d
        FROM (SELECT vec_id, v FROM e WHERE vec_id < {nq}) q
        CROSS JOIN {quant} c)""",
        f"""probe AS (SELECT qid, cell FROM (
        SELECT qid, cell,
               row_number() OVER (PARTITION BY qid ORDER BY d, cell) AS rn
        FROM pdist) WHERE rn <= {nprobe})""",
        f"""cand AS (SELECT p.qid, a.vec_id
        FROM {cells} a JOIN probe p ON a.c = p.cell)""",
        f"""dt AS (SELECT q.vec_id AS qid, c.s, c.j,
               {fold_sd.format(a='q.sv', b='c.cv')} AS d
        FROM (SELECT * FROM {psub} WHERE vec_id < {nq}) q
        JOIN {pcb} c ON q.s = c.s)""",
        f"""sc AS (SELECT cand.qid, a.vec_id,
               round(list_reduce(list_prepend(0.0::DOUBLE,
                   list(dt.d ORDER BY dt.s)), (x, y) -> x + y), 9) AS adc_dist
        FROM {penc} a
        JOIN cand ON a.vec_id = cand.vec_id
        JOIN dt ON dt.qid = cand.qid AND dt.s = a.s AND dt.j = a.j
        GROUP BY cand.qid, a.vec_id)""",
    ]
    return (
        f"WITH {kctes},\n" + ",\n".join(blocks) + f"""
    SELECT qid AS query_vec_id, vec_id, adc_dist, rank FROM (
        SELECT qid, vec_id, adc_dist,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adc_dist, vec_id)::INT AS rank
        FROM sc) WHERE rank <= {topk}"""
    )


@query("q163_knn_ivfpq",
       _ivfpq_oracle(kcells=4, km_iters=2, m=4, kw=4, pq_iters=1,
                     dim=64, nq=5, nprobe=2, topk=3))
def q163_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn.ivfpq — the FAISS-canonical billion-vector deployment,
    end-to-end as ops: embedding.kmeans trains the coarse quantizer
    (assign stamps cells; output='centroids' at iterations-1 exports
    the SAME centroids the assignment used), embedding.pq +
    pq_encode stamp m-byte codes, and knn.ivfpq probes each query's
    2 nearest cells and ADC-scores ONLY the codes posted there —
    vectors never ride the search. Flat knn.pq (q126) feeds every
    query ALL N codes; the cell restriction cuts the candidate
    stream to N*nprobe/k_cells — the difference between a day and an
    hour at 1e9 vectors. The oracle replays BOTH trainings, the
    probe ranking, the cell cut, and the ADC top-k; a hash match
    certifies the whole composition (q125 proved trained-IVF, q126
    proved pretrained-PQ; this certifies their combination, plus
    nprobe>1 multi-cell probing that q125's self-bucket path never
    exercises)."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    cells = _op("embedding.kmeans", ctx, [e], id_column="vec_id",
                column="embedding", k=4, iterations=2, dim=64,
                output_column="ivf_cell")
    cents = _op("embedding.kmeans", ctx, [e], id_column="vec_id",
                column="embedding", k=4, iterations=1, dim=64,
                output="centroids")
    books = _op("embedding.pq", ctx, [e], id_column="vec_id",
                column="embedding", m=4, k=4, iterations=1, dim=64,
                output="codebooks")
    enc = _op("embedding.pq_encode", ctx, [cells, books],
              id_column="vec_id", column="embedding")
    q = _op("filter.apply", ctx, [e], expr="vec_id < 5")
    return _op("knn.ivfpq", ctx, [enc, q, cents, books],
               id_column="vec_id", column="embedding",
               cell_column="ivf_cell", code_column="pq_code",
               k=3, nprobe=2)


def _ivfpq_deploy_oracle(kcells: int, m: int, kw: int, dim: int,
                         nq: int, nprobe: int, topk: int,
                         rerank: int | None = None) -> str:
    """Replay the q164 deployment pipeline: centroids = kmeans
    output='centroids' at iterations=1 (c1 of the unrolled CTEs),
    corpus cells = argmin against THOSE centroids (the
    embedding.assign_cells contract — same fold, ties to the lower
    cell), PQ training + encode, probe ranking, cell-restricted ADC
    top-k."""
    kctes, _ = _kmeans_cte(kcells, 2)  # c1 = the exported quantizer
    quant = "c1"
    pblocks, psub, pcb, penc, fold_sd = _pq_train_cte(
        m, kw, 1, dim, prefix="p")
    fold_dim = _fold_dim_sql(dim)
    blocks = pblocks + [
        f"""acd AS (SELECT e.vec_id, c.c AS cell,
               {fold_dim.format(a='e.v', b='c.cv')} AS dist
        FROM e CROSS JOIN {quant} c)""",
        """cells AS (SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cell) AS rn
        FROM acd) WHERE rn = 1)""",
        f"""pdist AS (SELECT vec_id AS qid, cell, dist AS d
        FROM acd WHERE vec_id < {nq})""",
        f"""probe AS (SELECT qid, cell FROM (
        SELECT qid, cell,
               row_number() OVER (PARTITION BY qid ORDER BY d, cell) AS rn
        FROM pdist) WHERE rn <= {nprobe})""",
        """cand AS (SELECT p.qid, a.vec_id
        FROM cells a JOIN probe p ON a.cell = p.cell)""",
        f"""dt AS (SELECT q.vec_id AS qid, c.s, c.j,
               {fold_sd.format(a='q.sv', b='c.cv')} AS d
        FROM (SELECT * FROM {psub} WHERE vec_id < {nq}) q
        JOIN {pcb} c ON q.s = c.s)""",
        f"""sc AS (SELECT cand.qid, a.vec_id,
               round(list_reduce(list_prepend(0.0::DOUBLE,
                   list(dt.d ORDER BY dt.s)), (x, y) -> x + y), 9) AS adc_dist
        FROM {penc} a
        JOIN cand ON a.vec_id = cand.vec_id
        JOIN dt ON dt.qid = cand.qid AND dt.s = a.s AND dt.j = a.j
        GROUP BY cand.qid, a.vec_id)""",
    ]
    if rerank is None:
        return (
            f"WITH {kctes},\n" + ",\n".join(blocks) + f"""
    SELECT qid AS query_vec_id, vec_id, adc_dist, rank FROM (
        SELECT qid, vec_id, adc_dist,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adc_dist, vec_id)::INT AS rank
        FROM sc) WHERE rank <= {topk}"""
        )
    # FAISS-refine replay: the ADC screen's top 'rerank' per query,
    # exact pairwise squared-L2 (the zip_with fold's left-to-right
    # per-dim order), re-ranked on (l2_dist, vec_id)
    blocks += [
        f"""rr AS (SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adc_dist, vec_id) AS rn
        FROM sc) WHERE rn <= {rerank})""",
        f"""ex AS (SELECT rr.qid, rr.vec_id,
               round(list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(range(1, {dim + 1}),
                       i -> (q.v[i]::DOUBLE - c.v[i]::DOUBLE)
                            * (q.v[i]::DOUBLE - c.v[i]::DOUBLE))),
                   (x, y) -> x + y), 9) AS l2_dist
        FROM rr JOIN e q ON q.vec_id = rr.qid
        JOIN e c ON c.vec_id = rr.vec_id)""",
    ]
    return (
        f"WITH {kctes},\n" + ",\n".join(blocks) + f"""
    SELECT qid AS query_vec_id, vec_id, l2_dist, rank FROM (
        SELECT qid, vec_id, l2_dist,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY l2_dist, vec_id)::INT AS rank
        FROM ex) WHERE rank <= {topk}"""
    )


@query("q164_ivfpq_deploy",
       _ivfpq_deploy_oracle(kcells=16, m=4, kw=16, dim=64, nq=40,
                            nprobe=2, topk=5))
def q164_ivfpq_deploy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVFPQ DEPLOYMENT shape at scaled parameters — how the
    100 TB corpus actually gets indexed: train the coarse quantizer
    and the PQ codebooks once (here on the corpus; in production on
    a sample), stamp the corpus with embedding.assign_cells +
    embedding.pq_encode — two shuffle-free passes where only the
    vectors cross into Python, zero training jobs on the big side —
    and search 40 queries' nprobe=2 of 16 cells (an 8x candidate
    cut) at codewords=16. q163 proves the composition at gate
    parameters with the two-kmeans-call contract; this query proves
    the assign_cells deployment stamp (fold-parity argmin against
    exported centroids) and the scaled cell/codeword configuration,
    oracle-replayed end to end."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    cents = _op("embedding.kmeans", ctx, [e], id_column="vec_id",
                column="embedding", k=16, iterations=1, dim=64,
                output="centroids")
    cells = _op("embedding.assign_cells", ctx, [e, cents],
                column="embedding", output_column="ivf_cell")
    books = _op("embedding.pq", ctx, [e], id_column="vec_id",
                column="embedding", m=4, k=16, iterations=1, dim=64,
                output="codebooks")
    enc = _op("embedding.pq_encode", ctx, [cells, books],
              id_column="vec_id", column="embedding")
    q = _op("filter.apply", ctx, [e], expr="vec_id < 40")
    return _op("knn.ivfpq", ctx, [enc, q, cents, books],
               id_column="vec_id", column="embedding",
               cell_column="ivf_cell", code_column="pq_code",
               k=5, nprobe=2)


@query("q165_ivfpq_rerank",
       _ivfpq_deploy_oracle(kcells=16, m=4, kw=16, dim=64, nq=40,
                            nprobe=2, topk=5, rerank=15))
def q165_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q164's deployment pipeline with the FAISS-refine step: the
    ADC screen keeps the top rerank=15 candidates per query and ONLY
    those pairs load raw vectors for an exact squared-L2 re-rank —
    |Q| x 15 vector rows move, never the corpus. This is the
    recall-quality dial the compressed index needs at 100 TB: codes
    for screening, vectors for the survivors (knn.lsh verify='pq'
    proved the same shape for the LSH family in q161). The oracle
    replays the screen's cut AND the exact pairwise fold; a hash
    match certifies the survivors, their distances, and the final
    ordering."""
    ctx = _ctx(spark)
    e = load_table(spark, sf_dir, "embeddings")
    cents = _op("embedding.kmeans", ctx, [e], id_column="vec_id",
                column="embedding", k=16, iterations=1, dim=64,
                output="centroids")
    cells = _op("embedding.assign_cells", ctx, [e, cents],
                column="embedding", output_column="ivf_cell")
    books = _op("embedding.pq", ctx, [e], id_column="vec_id",
                column="embedding", m=4, k=16, iterations=1, dim=64,
                output="codebooks")
    enc = _op("embedding.pq_encode", ctx, [cells, books],
              id_column="vec_id", column="embedding")
    q = _op("filter.apply", ctx, [e], expr="vec_id < 40")
    return _op("knn.ivfpq", ctx, [enc, q, cents, books],
               id_column="vec_id", column="embedding",
               cell_column="ivf_cell", code_column="pq_code",
               k=5, nprobe=2, rerank=15)


def entry_query(spark: SparkSession) -> DataFrame:
    """Flagship query for the driver smoke check (sf0.001)."""
    return q01_pricing_summary(spark, "/root/testdata/sf0.001")
