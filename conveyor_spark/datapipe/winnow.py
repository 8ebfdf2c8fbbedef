"""Winnowing document fingerprints (Schleimer-Wilkerson-Aiken, the
MOSS algorithm): position-robust fingerprint selection for local
(copied-passage) similarity.

Where text.fingerprint hashes whole documents and dedup.minhash
sketches global set overlap, winnowing selects a GUARANTEED subset of
k-gram hashes: any shared substring of at least w + k - 1 tokens
between two documents yields at least one IDENTICAL selected
fingerprint in both — the detection guarantee plagiarism / clone /
near-dup passage mining is built on. Fingerprints feed a plain
equi-join (dedup.exact on the fingerprint column, or a groupBy for
posting lists), so the pairing stage needs no new machinery.

Algorithm: hash every k-token gram; slide a window of w consecutive
gram hashes; in each window select the minimal hash, breaking ties by
RIGHTMOST position (the paper's rule — it minimizes selections on
runs of equal hashes); the fingerprint set is the distinct selected
(position, hash) pairs.

Scale: the whole selection is per-document array expressions in
whole-stage codegen — tokenize, gram, hash, window-min, distinct —
ZERO shuffle (vs the naive posexplode + partitioned-window plan,
which shuffles every gram row). Windows cost O(n * w) small string
compares per doc with w a small constant. Selected fingerprints
explode to skinny (id, pos, int64) rows only. `widen` spreads narrow
single-file scans first (NOTES: the sf documents table is one split).

Determinism: the window minimum compares fixed-length strings
"<15-hex-md5>#<12-digit reversed position>" — lexicographic order on
lowercase hex equals numeric order on the 60-bit hash, and the
reversed-position suffix makes the tie-break rightmost — identical in
any engine (q137 replays it in DuckDB verbatim).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.dedup import tokens_expr, widen

# positions are reversed against this constant so that MIN over the
# encoded string picks the RIGHTMOST position among equal hashes;
# 12 digits bounds docs at 10^12 grams (a petabyte-scale single doc)
_POS_BASE = 999_999_999_999


@register(
    "text.winnow", kind="transform",
    doc="Winnowing fingerprints (MOSS): guaranteed-overlap k-gram selection",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id column"),
        P("k", "integer", default=5, min=1,
          desc="Tokens per gram (noise threshold: shorter matches are ignored)"),
        P("window", "integer", default=4, min=1,
          desc="Gram hashes per window (guarantee threshold t = window + k - 1)"),
        P("pos_column", default="pos", desc="Selected gram position column"),
        P("fingerprint_column", default="fingerprint",
          desc="Selected 60-bit fingerprint column"),
        P("widen", "any", default="auto",
          desc="Spread narrow scans: auto / false / partition count"),
    ],
    example={"column": "text", "id_column": "doc_id", "k": 3, "window": 4},
    tags=["text", "dedup", "fingerprint", "similarity", "datapipe"],
)
def text_winnow(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """One row per selected fingerprint: (id, pos, fingerprint) where
    ``pos`` is the 0-based gram position and ``fingerprint`` the
    60-bit md5 of the space-joined k-gram. Documents with fewer than
    k tokens emit nothing; documents with fewer than ``window`` grams
    are covered by one clipped window (their minimal gram is still
    selected, so short docs remain pairable).

    Detection guarantee (the reason to use this over random/modulo
    sampling): two documents sharing a token run of length >=
    window + k - 1 share at least one selected fingerprint."""
    df = inputs[0]
    column = config.get("column")
    id_column = config.get("id_column")
    for c in (column, id_column):
        if c not in df.columns:
            raise ConfigError(f"text.winnow: no column {c!r}")
    k = int(config.get("k", 5))
    w = int(config.get("window", 4))
    if k < 1 or w < 1:
        raise ConfigError("text.winnow: k and window must be >= 1")
    pos_col = config.get("pos_column", "pos")
    fp_col = config.get("fingerprint_column", "fingerprint")
    if len({id_column, pos_col, fp_col}) != 3:
        raise ConfigError(
            "text.winnow: id/pos/fingerprint output columns must be distinct; "
            "set pos_column/fingerprint_column")

    df = widen(ctx, df, config)
    # materialize the token array once — NOTES rule 8: an outer
    # subtree referenced inside a transform() lambda re-evaluates PER
    # ELEMENT, so slicing the raw tokens_expr would re-tokenize the
    # document once per gram (O(n^2)/row)
    stage = df.select(
        F.col(id_column).alias("__id"),
        tokens_expr(column, distinct=False).alias("__tk"),
    )
    # non-distinct k-grams; EMPTY for NULL text and sub-k docs — the
    # coalesce matters: under ANSI size(NULL)=NULL, the < k test would
    # fall through and every NULL doc would emit md5('') at pos 0
    n_tok = F.coalesce(F.size("__tk"), F.lit(-1))
    grams = F.when(n_tok < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_tok - k),
            lambda i: F.concat_ws(" ", F.slice(F.col("__tk"), i + 1, k)),
        )
    )
    stage = stage.select("__id", grams.alias("__grams"))
    # encoded sort key: 15-hex hash + '#' + reversed 12-digit position
    keys = F.transform(
        F.col("__grams"),
        lambda g, i: F.concat(
            F.substring(F.md5(g), 1, 15),
            F.lit("#"),
            F.lpad((F.lit(_POS_BASE) - i).cast("string"), 12, "0"),
        ),
    )
    stage = stage.select("__id", keys.alias("__keys"), F.size("__grams").alias("__n"))
    # every window start 0..max(n-w, 0); slice clips at the array end,
    # so docs with fewer than w grams get one short window
    selected = F.when(F.col("__n") == 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.col("__n") - w, F.lit(0))
                ),
                lambda j: F.array_min(F.slice(F.col("__keys"), j + 1, w)),
            )
        )
    )
    exploded = stage.select(
        "__id", F.explode(selected).alias("__key")
    )
    return exploded.select(
        F.col("__id").alias(id_column),
        (F.lit(_POS_BASE) - F.substring("__key", 17, 12).cast("bigint"))
        .cast("int").alias(pos_col),
        F.conv(F.substring("__key", 1, 15), 16, 10).cast("bigint").alias(fp_col),
    )
