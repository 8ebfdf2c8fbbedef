"""text.bpe_train / text.bpe_encode — byte-pair-encoding tokenizer.

A real trainable subword tokenizer, the op a training-data pipeline
runs right before packing: train a merge table on the corpus, then
encode documents to token counts/sequences for budget planning and
pack.sequences weights. Pure Python driver loop + JVM corpus pass —
no tokenizers library in the container, and none needed.

Spark-first split of the classic algorithm (Sennrich et al. 2016;
the GPT-2 byte-level variant differs only in pre-tokenization):

- The CORPUS pass is distributed: regex pre-tokenization + word
  frequency counting is one groupBy over the whole dataset — the
  only part that touches 100 TB.
- The MERGE LOOP runs on the driver over the compact word-frequency
  table (``max_words`` caps it at the top-N words by frequency —
  the standard practice; HF tokenizers materializes the same table).
  Incremental pair-count maintenance makes it O(affected symbols)
  per merge, not a full recount.
- ENCODE broadcasts the merge ranks and applies the greedy
  lowest-rank merge loop per word inside Arrow-batched mapInPandas,
  memoized per distinct word per batch (Zipf makes the cache hit
  rate very high).

Determinism: pair ties break on (count DESC, pair ASC) so the merge
table is a pure function of the word-frequency table; word counting
is exact integer aggregation. Training twice on the same corpus
yields byte-identical merge tables on any partitioning.

No SQL oracle exists for an iterative merge loop, so the q112 gate
is rows-only; correctness is pinned by a differential pytest against
an independent recount-from-scratch reference implementation plus
the textbook worked example.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register

END = "</w>"
# explicit ASCII whitespace class: \s means ASCII-only under JVM
# regex (the train pass) but UNICODE whitespace under Python re (the
# encode workers) — U+00A0 in crawled text would tokenize
# differently between the two. An explicit class behaves identically
# in JVM regex, Python re, and RE2.
DEFAULT_PATTERN = r"[a-z0-9]+|[^ \t\n\x0b\f\ra-z0-9]"


def train_merges(word_freqs: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    """BPE merge loop with incremental pair-count maintenance and a
    lazy-invalidation heap for best-pair selection — O(log P) per
    selection instead of a dict min-scan, which is what makes
    saturation-scale merge counts (vocab-size * word-length, tens of
    thousands) tractable.

    ``word_freqs``: distinct word -> corpus frequency. Returns the
    ordered merge list. Ties break (count DESC, pair ASC)."""
    import heapq

    words: list[list[str]] = []
    freqs: list[int] = []
    for w, f in word_freqs.items():
        if not w:
            continue
        words.append(list(w) + [END])
        freqs.append(int(f))

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    heap: list[tuple[int, tuple[str, str]]] = []

    def add(pair, wi, f):
        c = pair_counts.get(pair, 0) + f
        pair_counts[pair] = c
        pair_words.setdefault(pair, set()).add(wi)
        heapq.heappush(heap, (-c, pair))

    def sub(pair, wi, f):
        c = pair_counts.get(pair)
        if c is None:
            return
        c -= f
        if c <= 0:
            pair_counts.pop(pair, None)
            pair_words.pop(pair, None)
        else:
            pair_counts[pair] = c
            heapq.heappush(heap, (-c, pair))

    for wi, sym in enumerate(words):
        f = freqs[wi]
        for a, b in zip(sym, sym[1:]):
            add((a, b), wi, f)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        # pop stale entries until the top matches the live count;
        # (-count, pair) ordering = (count DESC, pair ASC) tie-break
        best = None
        while heap:
            negc, pair = heap[0]
            if pair_counts.get(pair) == -negc:
                best = pair
                break
            heapq.heappop(heap)
        if best is None:
            break
        merges.append(best)
        joined = best[0] + best[1]
        for wi in list(pair_words.get(best, ())):
            sym = words[wi]
            f = freqs[wi]
            # remove this word's old pair contributions
            for a, b in zip(sym, sym[1:]):
                sub((a, b), wi, f)
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(joined)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            words[wi] = out
            for a, b in zip(out, out[1:]):
                add((a, b), wi, f)
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank merging (the GPT-2 encode loop)."""
    sym = list(word) + [END]
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i, pair in enumerate(zip(sym, sym[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i:best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def _word_freq_df(df: DataFrame, column: str, pattern: str,
                  lowercase: bool) -> DataFrame:
    # Column-API pattern (F.lit) — inlining the regex into a SQL
    # string would mangle backslashes. The pattern must behave
    # identically under JVM regex (train) and Python re (encode):
    # stick to the shared character-class subset.
    c = F.col(column).cast("string")
    if lowercase:
        c = F.lower(c)
    words = F.filter(
        F.regexp_extract_all(c, F.lit(pattern), F.lit(0)),
        lambda x: x != F.lit(""),
    )
    return (
        df.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


@register(
    "text.bpe_train", kind="transform",
    doc="Train a BPE merge table on a text corpus",
    params=[
        P("column", required=True, desc="Text column"),
        P("n_merges", "integer", default=1000, min=1,
          desc="Number of merge operations to learn"),
        P("max_words", "integer", default=1_000_000, min=100,
          desc="Top-N distinct words (by frequency) the driver-side "
               "merge loop trains on"),
        P("min_freq", "integer", default=1, min=1,
          desc="Drop words rarer than this before training"),
        P("lowercase", "boolean", default=True, desc="Casefold first"),
        P("pattern", default=DEFAULT_PATTERN,
          desc="Pre-tokenization regex (RE2-safe)"),
    ],
    example={"column": "text", "n_merges": 200},
    tags=["text", "tokenizer", "datapipe"],
)
def bpe_train(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Output: (rank INT, left STRING, right STRING) — the ordered
    merge table, feedable straight into text.bpe_encode as a second
    input or persisted as the tokenizer artifact.

    Scale: the corpus pass is one explode + groupBy (map-side
    partial aggregation; the word table is Zipf-small relative to
    the corpus). Only the top ``max_words`` frequency rows reach the
    driver — bounded memory no matter the corpus size."""
    df = inputs[0]
    column = config.get("column")
    n_merges = int(config.get("n_merges", 1000))
    max_words = int(config.get("max_words", 1_000_000))
    min_freq = int(config.get("min_freq", 1))
    pattern = config.get("pattern", DEFAULT_PATTERN)
    lowercase = bool(config.get("lowercase", True))

    wf = _word_freq_df(df, column, pattern, lowercase)
    if min_freq > 1:
        wf = wf.where(F.col("freq") >= min_freq)
    # deterministic top-N: freq DESC, word ASC tie-break
    rows = (
        wf.orderBy(F.col("freq").desc(), F.col("word"))
        .limit(max_words)
        .collect()
    )
    merges = train_merges({r["word"]: r["freq"] for r in rows}, n_merges)
    spark = ctx.spark
    schema = T.StructType([
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("left", T.StringType(), False),
        T.StructField("right", T.StringType(), False),
    ])
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)], schema)


@register(
    "text.bpe_encode", kind="transform", min_inputs=2, max_inputs=2,
    doc="Apply a BPE merge table: token count/sequence per document",
    params=[
        P("column", required=True, desc="Text column"),
        P("output_column", default="n_bpe_tokens",
          desc="Token-count column"),
        P("tokens_column",
          desc="Also emit the token array under this name (optional; "
               "token sequences are wide — counts usually suffice)"),
        P("lowercase", "boolean", default=True,
          desc="Must match training"),
        P("pattern", default=DEFAULT_PATTERN, desc="Must match training"),
    ],
    example={"column": "text"},
    tags=["text", "tokenizer", "datapipe"],
)
def bpe_encode(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """inputs = [documents, merge_table]. The merge table (bounded by
    n_merges) is collected once and broadcast inside the Arrow
    workers; per-batch word memoization exploits Zipf repetition.

    Scale: pure map — no shuffle; the merge table rides the closure."""
    df, merges_df = inputs[0], inputs[1]
    column = config.get("column")
    for need in ("rank", "left", "right"):
        if need not in merges_df.columns:
            raise ConfigError(
                "text.bpe_encode's second input must be a bpe_train merge "
                f"table with (rank, left, right); have {merges_df.columns}")
    out_col = config.get("output_column", "n_bpe_tokens")
    tokens_col = config.get("tokens_column")
    pattern = config.get("pattern", DEFAULT_PATTERN)
    lowercase = bool(config.get("lowercase", True))

    ranks = {
        (r["left"], r["right"]): int(r["rank"])
        for r in merges_df.collect()
    }
    from conveyor_spark.datapipe.dedup import widen

    df = widen(ctx, df, config)
    out_fields = list(df.schema.fields) + [
        T.StructField(out_col, T.IntegerType())]
    if tokens_col:
        out_fields.append(
            T.StructField(tokens_col, T.ArrayType(T.StringType())))
    out_schema = T.StructType(out_fields)
    out_names = [f.name for f in out_fields]

    def run(batches: Iterator) -> Iterator:
        import re

        import pandas as pd

        rx = re.compile(pattern)
        cache: dict[str, list[str]] = {}

        def words_of(text) -> list[str]:
            if text is None:
                return []
            t = str(text)
            if lowercase:
                t = t.lower()
            return rx.findall(t)

        def enc(word: str) -> list[str]:
            got = cache.get(word)
            if got is None:
                got = cache[word] = encode_word(word, ranks)
            return got

        for pdf in batches:
            pdf = pdf.copy()
            counts, seqs = [], []
            for text in pdf[column]:
                toks: list[str] = []
                for w in words_of(text):
                    toks.extend(enc(w))
                counts.append(len(toks))
                if tokens_col:
                    seqs.append(toks)
            pdf[out_col] = pd.array(counts, dtype="int32")
            if tokens_col:
                pdf[tokens_col] = seqs
            yield pd.DataFrame(pdf, columns=out_names)

    return df.mapInPandas(run, out_schema)
