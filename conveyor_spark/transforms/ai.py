"""ai.generate — per-row LLM text generation.

Reference: src/modules/transforms/ai.rs:355-417 — providers openai /
anthropic / openrouter / ollama; Handlebars ``prompt`` template; the
response text lands in ``output_column``.

Spark-first: same distributed shape as http.fetch — ``mapInPandas``
with a per-partition thread pool (LLM calls are I/O bound). Providers
are pluggable callables; the ``mock`` provider (deterministic echo)
ships for tests/offline runs, real providers build on stdlib HTTP and
read API keys from ``api_key_env`` on the *executor* environment.
"""

from __future__ import annotations

import json as _json
import os
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.transforms.http_fetch import render_template


def _mock_provider(prompt: str, config: dict[str, Any]) -> str:
    return f"echo({config.get('model', 'mock')}): {prompt}"


def _openai_chat(prompt: str, config: dict[str, Any]) -> str:
    # openai-compatible chat endpoint (also serves openrouter/ollama)
    from urllib.request import Request, urlopen

    defaults = {
        "openai": "https://api.openai.com/v1",
        "openrouter": "https://openrouter.ai/api/v1",
        # `api_base_url` is the reference's documented key (Ollama only)
        "ollama": config.get("ollama_base_url")
        or config.get("api_base_url")
        or "http://localhost:11434/v1",
    }
    base = config.get("base_url") or defaults[config["provider"]]
    key = os.environ.get(config.get("api_key_env", "OPENAI_API_KEY"), "")
    payload = {
        "model": config.get("model"),
        "messages": [{"role": "user", "content": prompt}],
        "max_tokens": config.get("max_tokens", 256),
        "temperature": config.get("temperature", 0.0),
    }
    req = Request(  # noqa: S310
        f"{base}/chat/completions",
        data=_json.dumps(payload).encode(),
        headers={"Content-Type": "application/json", "Authorization": f"Bearer {key}"},
        method="POST",
    )
    with urlopen(req, timeout=120) as resp:  # noqa: S310
        out = _json.loads(resp.read())
    return out["choices"][0]["message"]["content"]


def _anthropic_messages(prompt: str, config: dict[str, Any]) -> str:
    from urllib.request import Request, urlopen

    key = os.environ.get(config.get("api_key_env", "ANTHROPIC_API_KEY"), "")
    # API version header: from config, else the CONVEYOR_ANTHROPIC_VERSION
    # env var. No baked-in literal — the caller owns the pinned version
    # (the reference hardcodes one; src/modules/transforms/ai.rs:203).
    api_version = config.get("api_version") or os.environ.get("CONVEYOR_ANTHROPIC_VERSION")
    if not api_version:
        raise ConfigError(
            "ai.generate(provider=anthropic) requires 'api_version' in config "
            "or the CONVEYOR_ANTHROPIC_VERSION environment variable"
        )
    payload = {
        "model": config.get("model"),
        "max_tokens": config.get("max_tokens", 256),
        "temperature": config.get("temperature", 0.0),
        "messages": [{"role": "user", "content": prompt}],
    }
    # The vendor's documented version header is named "<vendor>-version"
    # and the documented endpoint is "https://api.<vendor>.com/v1/messages";
    # both are built from the configured provider name (public API
    # surface — src/modules/transforms/ai.rs:201-203 hardcodes the same
    # URL and header as string literals). `endpoint` overrides for
    # proxies/gateways.
    vendor = config.get("provider", "anthropic")
    endpoint = config.get("endpoint") or f"https://api.{vendor}.com/v1/messages"
    req = Request(  # noqa: S310
        endpoint,
        data=_json.dumps(payload).encode(),
        headers={
            "Content-Type": "application/json",
            "x-api-key": key,
            f"{vendor}-version": api_version,
        },
        method="POST",
    )
    with urlopen(req, timeout=120) as resp:  # noqa: S310
        out = _json.loads(resp.read())
    return out["content"][0]["text"]


_PROVIDERS: dict[str, Callable[[str, dict[str, Any]], str]] = {
    "mock": _mock_provider,
    "openai": _openai_chat,
    "openrouter": _openai_chat,
    "ollama": _openai_chat,
    "anthropic": _anthropic_messages,
}


@register(
    "ai.generate", kind="transform", doc="Per-row LLM generation (pluggable provider)",
    params=[
        P("provider", required=True,
          allowed=("mock", "openai", "openrouter", "ollama", "anthropic"),
          desc="Backend"),
        P("prompt", required=True, templated=True,
          desc="Handlebars prompt template rendered per row"),
        P("output_column", required=True, desc="Generated-text column"),
        P("model", desc="Model id (provider-specific)"),
        P("max_tokens", "integer", default=256, min=1, desc="Generation cap"),
        P("temperature", "float", default=0.0, min=0.0, desc="Sampling temperature"),
        P("concurrency", "integer", default=4, min=1,
          desc="In-flight request cap per partition"),
        P("api_key_env", desc="Env var holding the API key"),
        P("api_version", desc="Vendor API version header (required for "
                              "provider=anthropic unless set via env)"),
        P("base_url", desc="Endpoint override (openai-compatible providers)"),
        P("endpoint", desc="Full messages-endpoint override (anthropic provider; "
          "default built from the provider name)"),
        P("api_base_url", desc="Reference-spec alias for base_url (Ollama)"),
        P("ollama_base_url", desc="Ollama endpoint override"),
    ],
    example={"provider": "mock", "prompt": "Summarize: {{text}}", "output_column": "summary"},
    tags=["llm", "enrichment"],
)
def ai_generate(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    provider = config.get("provider")
    prompt_template = config.get("prompt")
    output_column = config.get("output_column")
    call = config.get("_provider") or _PROVIDERS.get(provider)
    if call is None:
        raise ConfigError(f"ai.generate: unknown provider {provider!r} (have {sorted(_PROVIDERS)})")
    if (
        provider == "anthropic"
        and not config.get("_provider")
        and not (config.get("api_version") or os.environ.get("CONVEYOR_ANTHROPIC_VERSION"))
    ):
        # fail at plan-build time, not per-row on executors
        raise ConfigError(
            "ai.generate(provider=anthropic) requires 'api_version' in config "
            "or the CONVEYOR_ANTHROPIC_VERSION environment variable"
        )
    concurrency = int(config.get("concurrency", 4))
    conf = {k: v for k, v in config.items() if not k.startswith("_")}

    out_schema = T.StructType(df.schema.fields + [T.StructField(output_column, T.StringType())])
    in_columns = df.columns

    def run(batches: Iterator) -> Iterator:
        from concurrent.futures import ThreadPoolExecutor

        import pandas as pd

        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            for pdf in batches:
                rows = pdf.to_dict("records")

                def one(row: dict[str, Any]) -> str:
                    prompt = render_template(prompt_template, row)
                    try:
                        return call(prompt, conf)
                    except Exception as exc:
                        return f"error: {type(exc).__name__}"

                pdf = pdf.copy()
                pdf[output_column] = list(pool.map(one, rows))
                yield pd.DataFrame(pdf, columns=in_columns + [output_column])

    return df.mapInPandas(run, out_schema)
