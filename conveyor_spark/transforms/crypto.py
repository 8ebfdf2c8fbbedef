"""encrypt.apply / decrypt.apply — AEAD column encryption.

Reference: src/modules/transforms/encrypt.rs / decrypt.rs —
algorithms aes-128-gcm, aes-256-gcm, chacha20-poly1305; output is
base64(nonce || ciphertext); decrypt has ``fail_on_error`` (null vs
abort).

Spark-first: AES-GCM uses the *builtin* ``aes_encrypt``/``aes_decrypt``
(JVM-side, Spark 3.3+; mode GCM prepends the 12-byte IV exactly like
the reference's nonce||ct layout). ChaCha20-Poly1305 has no JVM
builtin — implemented as an Arrow-batched pandas UDF over the
``cryptography`` package when available (import-gated).
"""

from __future__ import annotations

from typing import Any

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register

_ALGOS = {"aes-128-gcm": 16, "aes-256-gcm": 32, "chacha20-poly1305": 32}


def _check(config: dict[str, Any]) -> tuple[str, str, str]:
    column = config.get("column")
    key = config.get("key")
    algorithm = config.get("algorithm", "aes-256-gcm")
    if len(key.encode()) != _ALGOS[algorithm]:
        raise ConfigError(
            f"{algorithm} requires a {_ALGOS[algorithm]}-byte key, got {len(key.encode())}"
        )
    return column, key, algorithm


def _chacha_udf(key: bytes, mode: str, fail_on_error: bool):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def apply(s: pd.Series) -> pd.Series:
        import base64
        import os as _os

        from cryptography.hazmat.primitives.ciphers.aead import ChaCha20Poly1305

        box = ChaCha20Poly1305(key)

        def enc(v):
            if v is None:
                return None
            nonce = _os.urandom(12)
            return base64.b64encode(nonce + box.encrypt(nonce, v.encode(), None)).decode()

        def dec(v):
            if v is None:
                return None
            try:
                raw = base64.b64decode(v)
                return box.decrypt(raw[:12], raw[12:], None).decode()
            except Exception:
                if fail_on_error:
                    raise
                return None

        return s.map(enc if mode == "encrypt" else dec)

    return apply


@register(
    "encrypt.apply", kind="transform", doc="AEAD-encrypt a string column",
    params=[
        P("column", required=True, desc="Column to encrypt"),
        P("key", required=True, desc="Key material (hex/base64; or ${ENV} ref)"),
        P("algorithm", default="aes-256-gcm",
          allowed=("aes-256-gcm", "aes-128-gcm", "chacha20-poly1305"),
          desc="AEAD algorithm"),
        P("output_column", desc="Result column (default: in place)"),
    ],
    example={"column": "ssn", "key": "${DATA_KEY}", "algorithm": "aes-256-gcm"},
    tags=["crypto", "security"],
)
def encrypt_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    column, key, algorithm = _check(config)
    out = config.get("output_column", column)
    if algorithm.startswith("aes"):
        enc = F.base64(
            F.aes_encrypt(
                F.col(column).cast("binary"), F.lit(key.encode()), F.lit("GCM"), F.lit("NONE")
            )
        )
        return df.withColumn(out, enc)
    return df.withColumn(out, _chacha_udf(key.encode(), "encrypt", True)(F.col(column)))


@register(
    "decrypt.apply", kind="transform", doc="AEAD-decrypt a string column",
    params=[
        P("column", required=True, desc="Column to decrypt"),
        P("key", required=True, desc="Key material (hex/base64; or ${ENV} ref)"),
        P("algorithm", default="aes-256-gcm",
          allowed=("aes-256-gcm", "aes-128-gcm", "chacha20-poly1305"),
          desc="AEAD algorithm"),
        P("output_column", desc="Result column (default: in place)"),
        P("fail_on_error", "boolean", default=True,
          desc="Error on bad ciphertext instead of null"),
    ],
    example={"column": "ssn", "key": "${DATA_KEY}"},
    tags=["crypto", "security"],
)
def decrypt_apply(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    column, key, algorithm = _check(config)
    out = config.get("output_column", column)
    fail_on_error = bool(config.get("fail_on_error", True))
    if algorithm.startswith("aes"):
        decrypt_fn = F.aes_decrypt if fail_on_error else F.try_aes_decrypt
        dec = decrypt_fn(
            F.unbase64(F.col(column)), F.lit(key.encode()), F.lit("GCM"), F.lit("NONE")
        ).cast("string")
        return df.withColumn(out, dec)
    return df.withColumn(out, _chacha_udf(key.encode(), "decrypt", fail_on_error)(F.col(column)))
