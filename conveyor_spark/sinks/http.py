"""http.post/put/patch/delete — send rows to an endpoint.

Reference: plugins/conveyor-plugin-http sink modes (doc
docs/plugins/http.md:28-43,86-99) — send json/jsonl/raw bodies.

Spark-first: ``foreachPartition`` — each partition serializes its
rows and sends them in ``batch_size`` chunks over one connection
context, so throughput scales with partitions while connection count
stays bounded (reference behavior is a single driver-side send).
``_sender`` injects a test transport.
"""

from __future__ import annotations

import json as _json
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, Row

from conveyor_spark.registry import OpContext, P, register


def _default_sender(url: str, method: str, headers: dict[str, str], body: bytes) -> int:
    from urllib.request import Request, urlopen

    req = Request(url, method=method, headers=headers, data=body)  # noqa: S310
    with urlopen(req, timeout=30) as resp:  # noqa: S310
        return resp.status


def _make_http_sink(method: str):
    def sink(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> None:
        url = config.get("url")
        df = inputs[0]
        fmt = config.get("format", "json")
        headers = dict(config.get("headers", {}))
        headers.setdefault("Content-Type", "application/json")
        batch_size = int(config.get("batch_size", 500))
        sender: Callable[..., int] = config.get("_sender", _default_sender)
        columns = df.columns

        def run(rows: Iterator[Row]) -> None:
            batch: list[dict[str, Any]] = []

            def flush() -> None:
                if not batch:
                    return
                if fmt == "jsonl":
                    body = "\n".join(_json.dumps(r, default=str) for r in batch).encode()
                else:
                    body = _json.dumps(batch, default=str).encode()
                sender(url, method, headers, body)
                batch.clear()

            for row in rows:
                batch.append({c: row[c] for c in columns})
                if len(batch) >= batch_size:
                    flush()
            flush()

        df.foreachPartition(run)
        return None

    sink.__name__ = f"http_{method.lower()}"
    return sink


for _m in ("POST", "PUT", "PATCH", "DELETE"):
    register(
        f"http.{_m.lower()}", kind="sink", doc=f"HTTP {_m} rows to an endpoint",
        params=[
            P("url", required=True, desc="Endpoint URL"),
            P("format", default="json", allowed=("json", "jsonl"),
              desc="Batch body encoding"),
            P("headers", "object", default={}, desc="Request headers"),
            P("batch_size", "integer", default=500, min=1,
              desc="Rows per request (per partition)"),
        ],
        example={"url": "https://api.example.com/ingest", "batch_size": 500},
        tags=["http", "api"],
    )(_make_http_sink(_m))
