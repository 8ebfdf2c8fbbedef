"""Bloom-filter benchmark decontamination (`decontam.bloom`).

`decontam.ngram` (curation.py) broadcasts the benchmark's exact
shingle set — right answer while the set fits comfortably in executor
memory. When the reference side grows (all eval suites + held-out
docs + a blocklist corpus: 10^8-10^9 grams), the exact set stops
broadcasting but a Bloom filter of it still does: 10^9 grams at
fpp=1e-6 is ~3.6 GB of bits vs ~10x that for an exact hash set.
False positives only ever *over*-flag (the safe direction for
decontamination); false negatives are impossible.

Scale design — hashing never leaves the JVM:

- **Build**: every reference gram maps to ``k`` bit positions via
  double hashing (pos_i = (h1 + i*h2) mod m, Kirsch-Mitzenmacher),
  h1/h2 from xxhash64 — all codegen'd expressions. Bloom insertion
  is idempotent, so duplicate grams cost nothing. For any filter up
  to ``broadcast_bits`` the m-bit set packs JVM-side: positions
  group by word index with BIT_OR of the shifted bit (one tiny
  shuffle ≤ n×k rows, collect of non-zero words only — no Python
  workers in the build). Beyond that, per partition ONE Arrow batch
  stream packs positions into an m-bit numpy bitset and the driver
  ORs per-partition bitsets — driver traffic = partitions × m/8
  bytes, independent of gram count.
- **Check, small filters** (m ≤ ``inline_bits``, default 2^21):
  the bitset is inlined into the plan as an array<bigint> literal
  and membership is a pure JVM ``exists(grams, g ->
  forall(positions(g), p -> getbit(words, p)))`` — whole-stage
  codegen, zero Python in the hot path.
- **Check, mid filters** (m ≤ ``broadcast_bits``, default 2^28):
  the same all-JVM expression, but the word array rides a one-row
  broadcast DataFrame cross-joined onto the corpus instead of a
  plan literal (a 2^28-bit filter is a 32 MB array — too big to
  ship in every task closure, cheap as a broadcast). Plan shape:
  BroadcastNestedLoopJoin of ONE row, then a projection; the
  corpus still never shuffles and no Python runs.
- **Check, huge filters** (beyond ``broadcast_bits``, i.e. 10^8+
  grams): the bitset rides a raw Spark broadcast; the corpus
  computes its (n_grams × k) position matrix JVM-side and a
  mapInPandas does only the vectorized numpy bit-gather.

Sizing: double hashing has a second FP channel the textbook formula
ignores — a probe colliding with a stored gram in BOTH h1 and h2
has its whole orbit contained (prob ~2n/m² per probe). For large n
the textbook m already drowns it; for small n (where a sqrt(2n/fpp)
floor would otherwise inflate m past the inline threshold) we switch
to k fully independent hashes, which have no orbit channel, and let
textbook sizing stand.

Reference: Bloom (1970); Kirsch & Mitzenmacher (2006) double hashing.
"""

from __future__ import annotations

import math
from typing import Any, Iterator

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.dedup import word_shingles_expr


def _size_filter(n_items: int, fpp: float) -> tuple[int, int, bool]:
    """(m_bits, k_hashes, independent) for n items at target fpp. m
    is rounded UP to a power of two (min 2^10): with m = 2^b and an
    odd step h2, the double-hash orbit (h1 + i*h2) mod m yields k
    distinct, well-spread positions — composite m with an arbitrary
    step gives structured orbits and a measured FP rate orders above
    the ideal. k capped at 16 (bounds per-gram work; at these sizes
    the cap costs ~nothing).

    Double hashing's orbit-containment channel (a probe colliding
    with a stored gram in both h1 and h2 mod m contains its whole
    orbit, prob ~2n/m² per probe) needs m ≥ sqrt(2n/fpp). When that
    floor exceeds the textbook m (small n, tight fpp — e.g. 2.4k
    grams at 1e-9 would quadruple m), we return ``independent=True``
    instead: k independent hashes have no orbit channel, so textbook
    sizing stands and small reference sets stay on the inline
    codegen path."""
    n_items = max(1, n_items)
    m_text = int(math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    m_text_p2 = max(1 << 10, 1 << (m_text - 1).bit_length())
    m_orbit = int(math.ceil(math.sqrt(2.0 * n_items / fpp)))
    if m_orbit > m_text_p2:
        m, independent = m_text_p2, True
    else:
        m = max(1 << 10, 1 << (max(m_text, m_orbit) - 1).bit_length())
        independent = False
    k = max(1, min(16, round(m / n_items * math.log(2))))
    return m, k, independent


def _positions(gram: Column, m: int, k: int, independent: bool = False) -> Column:
    """array<bigint> of k bit positions for one gram, all JVM-side.

    Double-hash mode: h1, h2 are reduced mod m first so h1 + i*h2
    stays far from int64 overflow (ANSI mode would throw): i < 16,
    h2 < m. Independent mode: k seeded xxhash64 calls — ~8× the
    hashing work but no orbit-containment FP channel (used when
    _size_filter picks textbook sizing for small n)."""
    if independent:
        return F.array(
            *[F.pmod(F.xxhash64(gram, F.lit(i)), F.lit(m)) for i in range(k)]
        )
    h1 = F.pmod(F.xxhash64(gram), F.lit(m))
    # odd step -> full-cycle orbit in the power-of-two ring
    h2 = F.pmod(F.xxhash64(gram, F.lit(1)), F.lit(m)).bitwiseOR(F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(h1 + i.cast("bigint") * h2, F.lit(m)),
    )


def _build_bitset_jvm(ref_positions: DataFrame, m: int) -> np.ndarray:
    """Pack the m-bit set entirely JVM-side: positions group by word
    index with a BIT_OR of the shifted bit — one tiny shuffle of at
    most n×k rows, collect of only the NON-ZERO words (≤ n×k rows,
    ≤ m/64). No Python workers anywhere in the build. Used whenever
    the word table fits a driver collect (m ≤ broadcast_bits); the
    per-partition numpy pack below covers truly huge filters."""
    one = F.lit(1).cast("bigint")
    rows = (
        ref_positions.groupBy(F.shiftright("pos", 6).alias("__w"))
        .agg(
            F.bit_or(
                F.call_function("shiftleft", one, (F.col("pos") % 64).cast("int"))
            ).alias("__bits")
        )
        .collect()
    )
    words = np.zeros(m // 64, dtype=np.int64)
    for r in rows:
        words[r["__w"]] = r["__bits"]
    return words.view(np.uint8)


def _build_bitset(ref_positions: DataFrame, m: int) -> np.ndarray:
    """OR per-partition packed bitsets into one m-bit numpy array.

    ``ref_positions``: single bigint column ``pos``. Each partition
    emits one (m/8)-byte packed row; the driver ORs them."""
    nbytes = m // 8

    def pack(batches: Iterator) -> Iterator:
        import pandas as pd

        bits = np.zeros(nbytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            pos = pdf["pos"].to_numpy(dtype=np.int64)
            if len(pos):
                seen = True
                np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        if seen:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    rows = ref_positions.mapInPandas(
        pack, schema=T.StructType([T.StructField("bits", T.BinaryType())])
    ).collect()
    out = np.zeros(nbytes, dtype=np.uint8)
    for r in rows:
        out |= np.frombuffer(r["bits"], dtype=np.uint8)
    return out


def _words_literal(bitset: np.ndarray) -> Column:
    """array<bigint> literal in O(1) py4j calls: one CSV string
    literal split + cast, which Catalyst constant-folds into a plain
    array literal before execution. (``F.lit(list)`` builds one JVM
    literal per element — tens of thousands of py4j round-trips for
    a 2^21-bit filter, ~1s of pure driver latency; the string cast
    also handles INT64_MIN, which a SQL ``-9223372036854775808L``
    token cannot express.)"""
    words = np.frombuffer(bitset.tobytes(), dtype="<i8")
    csv = ",".join(map(str, words.tolist()))
    return F.split(F.lit(csv), ",").cast("array<bigint>")


def _getbit(words: Column, p: Column) -> Column:
    """getbit(words[p >> 6], p & 63) = 1 on an array<bigint> (SQL
    getbit takes the bit index as an expression; shiftright's Python
    API only accepts literal shifts)."""
    word = F.get(words, F.shiftright(p, 6).cast("int"))
    return F.call_function("getbit", word, (p % 64).cast("int")) == 1


@register(
    "decontam.bloom",
    kind="transform",
    min_inputs=2,
    max_inputs=2,
    doc="Bloom-filter decontamination vs a large benchmark set",
    params=[
        P("column", required=True, desc="Corpus text column"),
        P("id_column", required=True, desc="Corpus document id"),
        P("bench_column", desc="Benchmark text column (default: column)"),
        P("ngram", "integer", default=8, min=1, desc="Shingle size in words"),
        P("mode", default="flag", allowed=("flag", "filter"),
          desc="Mark contaminated docs vs remove them"),
        P("output_column", default="contaminated", desc="Flag column (mode=flag)"),
        P("fpp", "float", default=0.000001, min=0.0, max=1.0,
          desc="False-positive probability target"),
        P("expected_items", "integer", min=1,
          desc="Benchmark gram count (skips the sizing pass)"),
        P("inline_bits", "integer", min=1,
          desc="Bitmap size up to which the filter inlines as a plan literal"),
        P("broadcast_bits", "integer", min=1,
          desc="Bitmap size up to which the filter rides a one-row "
               "broadcast join (beyond it: numpy bit-gather)"),
    ],
    example={"column": "text", "id_column": "doc_id", "fpp": 0.000001},
    tags=["decontamination", "bloom", "datapipe"],
)
def decontam_bloom(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Flag/drop corpus docs whose word n-grams hit a Bloom filter
    built over the reference set's n-grams. inputs = [corpus,
    reference]. A doc is flagged iff some gram has ALL k bits set.

    Config: ``column`` (corpus text), ``id_column``, ``bench_column``
    (default = column), ``ngram`` (default 8), ``mode`` = flag|filter,
    ``output_column`` (default "contaminated"), ``fpp`` (default
    1e-6), ``expected_items`` (reference gram count for sizing;
    default: one approx_count_distinct job over the reference),
    ``inline_bits`` (default 2^21: filters at or under this inline
    into the plan as a JVM array literal — zero Python in the check),
    ``broadcast_bits`` (default 2^28: filters between the two ride a
    one-row broadcast join, same all-JVM check expression; beyond it
    a raw broadcast + vectorized numpy bit-gather).

    vs decontam.ngram: same semantics and flag direction; use this
    one when the reference gram set is too big to broadcast exactly.
    False positives over-flag at ~fpp per (doc, gram) — safe for
    decontamination, wrong tool for exact joins.
    """
    if len(inputs) != 2:
        raise ConfigError("decontam.bloom needs [corpus, reference] inputs")
    corpus, ref = inputs
    column = config.get("column")
    bench_column = config.get("bench_column", column)
    n = int(config.get("ngram", 8))
    mode = config.get("mode", "flag")
    out_col = config.get("output_column", "contaminated")
    fpp = float(config.get("fpp", 1e-6))
    if not (0.0 < fpp < 1.0):
        raise ConfigError(f"decontam.bloom: fpp must be in (0,1), got {fpp}")
    inline_bits = int(config.get("inline_bits", 1 << 21))
    broadcast_bits = int(config.get("broadcast_bits", 1 << 28))

    ref_grams = ref.select(F.explode(word_shingles_expr(bench_column, n)).alias("__g"))
    n_items = config.get("expected_items")
    if n_items is None:
        # the sizing pass AND the bitset build both read the
        # reference gram stream — persist (reference-set sized, the
        # small side by the op's own contract) so the shingle explode
        # runs once, not twice (r13)
        ref_grams = ctx.persist(ref_grams)
        n_items = ref_grams.agg(F.approx_count_distinct("__g")).collect()[0][0]
    m, k, indep = _size_filter(int(n_items), fpp)

    build = _build_bitset_jvm if m <= broadcast_bits else _build_bitset
    bitset = build(
        ref_grams.select(F.explode(_positions(F.col("__g"), m, k, indep)).alias("pos")),
        m,
    )

    grams = word_shingles_expr(column, n)

    def _flag_expr(words: Column) -> Column:
        return F.exists(
            grams,
            lambda g: F.forall(_positions(g, m, k, indep), lambda p: _getbit(words, p)),
        )

    def _word_broadcast_path() -> DataFrame:
        # Mid path: same JVM expression as inline, word array delivered
        # as a one-row broadcast cross join (BroadcastNestedLoopJoin of
        # 1 row) instead of a plan literal. Corpus never shuffles, no
        # Python anywhere. Also the Spark-Connect fallback for the huge
        # path (no SparkContext.broadcast there).
        import pyarrow as pa

        words_np = np.frombuffer(bitset.tobytes(), dtype="<i8")
        wdf = corpus.sparkSession.createDataFrame(
            pa.table({"__bloom_words": pa.array([words_np], type=pa.list_(pa.int64()))})
        )
        return (
            corpus.crossJoin(F.broadcast(wdf))
            .withColumn(out_col, _flag_expr(F.col("__bloom_words")))
            .drop("__bloom_words")
        )

    if m <= inline_bits:
        # Inline JVM path: array<bigint> literal + codegen'd exists/forall.
        flagged = corpus.withColumn(out_col, _flag_expr(_words_literal(bitset)))
    elif m <= broadcast_bits:
        flagged = _word_broadcast_path()
    else:
        # Huge path (10^8+ grams): JVM computes the flattened
        # (n_grams*k) position array per doc; Python reshapes (-1, k)
        # and gathers bits — any gram with all k hits flags the doc.
        try:
            bc = corpus.sparkSession.sparkContext.broadcast(bitset.tobytes())
        except Exception:
            bc = None  # Spark-Connect client: no SparkContext.broadcast
        if bc is None:
            flagged = _word_broadcast_path()
        else:
            pos_arr = F.flatten(
                F.transform(grams, lambda g: _positions(g, m, k, indep))
            )
            schema = T.StructType(
                corpus.schema.fields + [T.StructField(out_col, T.BooleanType())]
            )

            def check(batches: Iterator) -> Iterator:
                bits = np.frombuffer(bc.value, dtype=np.uint8)
                for pdf in batches:
                    flags = []
                    for pos in pdf["__pa"]:
                        p = np.asarray(pos, dtype=np.int64)
                        if p.size == 0:
                            flags.append(False)
                            continue
                        hit = (bits[p >> 3] >> (p & 7).astype(np.uint8)) & 1
                        flags.append(bool(hit.reshape(-1, k).all(axis=1).any()))
                    out = pdf.drop(columns=["__pa"])
                    out[out_col] = flags
                    yield out

            flagged = corpus.withColumn("__pa", pos_arr).mapInPandas(
                check, schema=schema
            )

    if mode == "filter":
        return flagged.filter(~F.col(out_col)).drop(out_col)
    return flagged
