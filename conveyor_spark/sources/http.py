"""http.get — fetch an endpoint into a DataFrame.

Reference: plugins/conveyor-plugin-http (FFI plugin, 564 LoC; doc
docs/plugins/http.md:24-45) — GET/HEAD an endpoint, parse json/jsonl/raw.

A single GET is driver-side by nature; the *scalable* per-row
enrichment path is transforms/http_fetch.py (mapInPandas with bounded
concurrency). Network access may be absent in test containers, so the
fetcher is injectable (``_fetcher`` test hook) and uses only stdlib.
"""

from __future__ import annotations

import json as _json
from typing import Any, Callable

from pyspark.sql import DataFrame, Row

from conveyor_spark.registry import OpContext, P, register


def _default_fetcher(url: str, method: str, headers: dict[str, str], timeout: float) -> bytes:
    from urllib.request import Request, urlopen

    req = Request(url, method=method, headers=headers)  # noqa: S310
    with urlopen(req, timeout=timeout) as resp:  # noqa: S310
        return resp.read()


@register(
    "http.get", kind="source", doc="GET an endpoint -> DataFrame (json/jsonl/raw)",
    params=[
        P("url", required=True, desc="Endpoint URL (Handlebars-rendered)"),
        P("format", default="json", allowed=("json", "jsonl", "raw"),
          desc="Response parsing"),
        P("headers", "object", default={}, desc="Request headers"),
        P("method", default="GET", desc="HTTP method"),
        P("timeout_seconds", "integer", default=30, min=1, desc="Request timeout"),
    ],
    example={"url": "https://api.example.com/items", "format": "json"},
    tags=["http", "api"],
)
def http_get(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    url = config.get("url")
    method = str(config.get("method", "GET")).upper()
    fmt = config.get("format", "json")
    headers = dict(config.get("headers", {}))
    timeout = float(config.get("timeout_seconds", 30))
    fetcher: Callable[..., bytes] = config.get("_fetcher", _default_fetcher)
    body = fetcher(url, method, headers, timeout)
    text = body.decode("utf-8", errors="replace")
    if fmt == "raw":
        return ctx.spark.createDataFrame([Row(raw=text)])
    if fmt == "jsonl":
        records = [_json.loads(line) for line in text.splitlines() if line.strip()]
    else:
        payload = _json.loads(text)
        records = payload if isinstance(payload, list) else [payload]
    from conveyor_spark.sources.records import records_to_dataframe

    return records_to_dataframe(ctx.spark, records)
