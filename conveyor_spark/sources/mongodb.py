"""MongoDB connector ops.

Reference: plugins/conveyor-plugin-mongodb (FFI plugin, 2512 LoC) —
find/findOne/aggregate sources, full CRUD sinks, toObjectId transform
(doc docs/plugins/mongodb.md).

Spark-first mapping:
- reads: the mongo-spark-connector (``format("mongodb")``) when its
  JAR is on the classpath — distributed, partitioned by the
  connector; else a pymongo driver-side fallback for small results.
- insert sinks: ``df.write.format("mongodb")`` (connector) or
  pymongo ``foreachPartition`` fallback — each partition opens one
  client and bulk-writes its rows (distributed, bounded connections).
- update/delete/replace: always ``foreachPartition`` + pymongo
  (the connector only appends/overwrites collections).

Both backends are gated with clear errors when absent; the plumbing
(config surface, partition-wise write protocol) is real and tested
with an injected fake client.
"""

from __future__ import annotations

import json as _json
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, Row

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


def _check_conn(config: dict[str, Any]) -> tuple[str, str, str]:
    uri = config.get("uri")
    database = config.get("database")
    collection = config.get("collection")
    if not uri or not database or not collection:
        raise ConfigError("mongodb ops require 'uri', 'database', 'collection'")
    return uri, database, collection


_CONN_KEYS = ("uri", "database", "collection")


def _render_config(
    ctx: OpContext, config: dict[str, Any], keys: tuple[str, ...]
) -> dict[str, Any]:
    """Handlebars-render config fields against the pipeline variables
    (reference renders these fields through Handlebars — plugins/
    conveyor-plugin-mongodb/src/lib.rs:56-95,1147-1206). Sinks render
    only the connection fields here; their `query` template renders
    PER ROW in _write_partitions (each row is its own context)."""
    from conveyor_spark.templating import render

    variables = dict(getattr(ctx, "variables", {}) or {})
    cfg = dict(config)
    for key in keys:
        v = cfg.get(key)
        if isinstance(v, str) and "{{" in v:
            cfg[key] = render(v, variables)
    return cfg


def _has_connector(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("com.mongodb.spark.sql.connector.MongoTableProvider")
        return True
    except Exception:
        return False


def _client_factory(config: dict[str, Any]) -> Callable[[], Any]:
    if factory := config.get("_client_factory"):  # test hook
        return factory
    try:
        import pymongo
    except ImportError:
        raise ConfigError(
            "mongodb ops need either the mongo-spark-connector JAR or the "
            "'pymongo' package; neither is available in this environment"
        ) from None
    uri, _, _ = _check_conn(config)
    return lambda: pymongo.MongoClient(uri)


def _read(ctx: OpContext, config: dict[str, Any], mode: str) -> DataFrame:
    config = _render_config(ctx, config, _CONN_KEYS + ("query", "pipeline"))
    uri, database, collection = _check_conn(config)
    if _has_connector(ctx.spark) and not config.get("_client_factory"):
        reader = (
            ctx.spark.read.format("mongodb")
            .option("connection.uri", uri)
            .option("database", database)
            .option("collection", collection)
        )
        if mode == "aggregate":
            reader = reader.option(
                "aggregation.pipeline", _json.dumps(config.get("pipeline", []))
            )
        else:
            # the find path's 'query' filter must reach the connector
            # too (as a $match pushed into the aggregation pipeline) —
            # ignoring it would silently return the WHOLE collection
            # when the JAR happens to be on the classpath
            query = config.get("query", {})
            if isinstance(query, str):
                query = _json.loads(query)
            if query:
                reader = reader.option(
                    "aggregation.pipeline", _json.dumps([{"$match": query}])
                )
        df = reader.load()
        if mode == "findOne":
            df = df.limit(1)
        elif mode == "find" and (limit := config.get("limit")):
            df = df.limit(int(limit))
        # schema parity with the pymongo fallback: _id as string
        if "_id" in df.columns:
            from pyspark.sql import functions as F

            df = df.withColumn("_id", F.col("_id").cast("string"))
        return df
    # driver-side fallback (small results; reference is also
    # single-node here)
    factory = _client_factory(config)
    client = factory()
    coll = client[database][collection]
    if mode == "aggregate":
        docs = list(coll.aggregate(config.get("pipeline", [])))
    else:
        query = config.get("query", {})
        if isinstance(query, str):
            query = _json.loads(query)
        cursor = coll.find(query)
        if limit := config.get("limit"):
            cursor = cursor.limit(int(limit))
        docs = list(cursor) if mode == "find" else list(cursor.limit(1))
    for d in docs:
        if "_id" in d:
            d["_id"] = str(d["_id"])
    from conveyor_spark.sources.records import records_to_dataframe

    return records_to_dataframe(ctx.spark, docs, empty_schema="_id STRING")


_CONN_PARAMS = [
    P("uri", required=True, templated=True,
      desc="Connection URI (Handlebars-rendered)"),
    P("database", required=True, desc="Database name"),
    P("collection", required=True, desc="Collection name"),
]


@register(
    "mongodb.find", kind="source", doc="MongoDB find -> DataFrame",
    params=_CONN_PARAMS + [
        P("query", "object", default={}, desc="Filter document (JSON)"),
        P("limit", "integer", min=1, desc="Row cap"),
    ],
    example={"uri": "mongodb://localhost:27017", "database": "app",
             "collection": "users", "query": {"active": True}},
    tags=["mongodb", "database"],
)
def mongodb_find(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    return _read(ctx, config, "find")


@register(
    "mongodb.findOne", kind="source", doc="MongoDB findOne -> 1-row DataFrame",
    params=_CONN_PARAMS + [P("query", "object", default={}, desc="Filter document (JSON)")],
    example={"uri": "mongodb://localhost:27017", "database": "app", "collection": "users"},
    tags=["mongodb", "database"],
)
def mongodb_find_one(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    return _read(ctx, config, "findOne")


@register(
    "mongodb.aggregate", kind="source", doc="MongoDB aggregation pipeline -> DataFrame",
    params=_CONN_PARAMS + [P("pipeline", "array", required=True, desc="Aggregation stages")],
    example={"uri": "mongodb://localhost:27017", "database": "app",
             "collection": "users", "pipeline": [{"$match": {"active": True}}]},
    tags=["mongodb", "database"],
)
def mongodb_aggregate(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    return _read(ctx, config, "aggregate")


def _write_partitions(df: DataFrame, config: dict[str, Any], op: str) -> None:
    """Partition-wise CRUD: one client per partition, bulk ops per
    batch — the distributed write path for update/delete/replace
    (and inserts when the connector JAR is absent)."""
    factory = _client_factory(config)
    _, database, collection = _check_conn(config)
    query_template = config.get("query")
    columns = df.columns

    # Row-templated queries (reference: Handlebars query field,
    # lib.rs:1200-1206): a STRING query is parsed once on the driver
    # and rendered per row — '{"user_id": {{ user_id }}}' filters each
    # row's own document. A dict {"keys": [...]} keeps the key-project
    # behavior; absent -> match on _id.
    row_query = None
    if isinstance(query_template, str):
        from conveyor_spark.templating import compile_template

        tmpl = compile_template(query_template)
        row_query = lambda doc: _json.loads(tmpl(doc))  # noqa: E731

    def _filter(doc: dict[str, Any]) -> dict[str, Any]:
        if row_query is not None:
            return row_query(doc)
        return {k: doc[k] for k in (query_template or {}).get("keys", ["_id"]) if k in doc}

    def run(rows: Iterator[Row]) -> None:
        client = factory()
        coll = client[database][collection]
        batch: list[dict[str, Any]] = []
        for row in rows:
            batch.append({c: row[c] for c in columns})
        if not batch:
            return
        if op in ("insertOne", "insertMany"):
            coll.insert_many(batch)
        elif op in ("updateOne", "updateMany"):
            for doc in batch:
                getattr(coll, "update_one" if op == "updateOne" else "update_many")(
                    _filter(doc), {"$set": doc}, upsert=bool(config.get("upsert", False))
                )
        elif op in ("deleteOne", "deleteMany"):
            for doc in batch:
                getattr(coll, "delete_one" if op == "deleteOne" else "delete_many")(_filter(doc))
        elif op in ("replaceOne", "replaceMany"):
            for doc in batch:
                coll.replace_one(_filter(doc), doc, upsert=bool(config.get("upsert", False)))
        elif op == "bulkWrite":
            coll.insert_many(batch)

    df.foreachPartition(run)


def _make_sink(op: str):
    def sink(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> None:
        df = inputs[0]
        config = _render_config(ctx, config, _CONN_KEYS)
        uri, database, collection = _check_conn(config)
        if (
            op in ("insertOne", "insertMany", "bulkWrite")
            and _has_connector(ctx.spark)
            and not config.get("_client_factory")
        ):
            (
                df.write.format("mongodb")
                .mode("append")
                .option("connection.uri", uri)
                .option("database", database)
                .option("collection", collection)
                .save()
            )
            return None
        _write_partitions(df, config, op)
        return None

    sink.__name__ = f"mongodb_{op}"
    sink.__doc__ = f"MongoDB {op} sink (connector or pymongo foreachPartition)"
    return sink


for _op_name in [
    "insertOne", "insertMany", "updateOne", "updateMany",
    "deleteOne", "deleteMany", "replaceOne", "replaceMany", "bulkWrite",
]:
    register(
        f"mongodb.{_op_name}", kind="sink", doc=f"MongoDB {_op_name}",
        params=_CONN_PARAMS + [
            P("query", "any", templated=True,
              desc="Row-match template: Handlebars string rendered per row, "
                   "or {\"keys\": [...]}; defaults to matching on _id"),
        ],
        example={"uri": "mongodb://localhost:27017", "database": "app",
                 "collection": "users"},
        tags=["mongodb", "database"],
    )(_make_sink(_op_name))


@register(
    "mongodb.toObjectId", kind="transform", doc="Normalize a column to ObjectId hex",
    params=[P("column", required=True, desc="Column holding id values")],
    example={"column": "_id"},
    tags=["mongodb"],
)
def mongodb_to_object_id(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """String -> 24-char ObjectId hex (reference: plugin lib.rs:1764-1773).
    Valid 24-hex strings pass through lowercased; anything else maps
    to a deterministic md5-derived ObjectId — pure JVM expressions."""
    from pyspark.sql import functions as F

    column = config.get("column")
    out = config.get("output_column", column)
    c = F.col(column)
    is_hex24 = c.rlike("^[0-9a-fA-F]{24}$")
    return inputs[0].withColumn(
        out, F.when(is_hex24, F.lower(c)).otherwise(F.substring(F.md5(c), 1, 24))
    )
