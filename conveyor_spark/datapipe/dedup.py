"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design:
- exact: hash-groupBy on a fingerprint — one shuffle of (hash, id),
  never of full documents.
- minhash_lsh: signatures are computed per-row with pure array
  expressions (shingle -> one 28-bit md5 base hash -> k universal
  integer mixes (a_i*h + b_i) mod P -> array_min), no explode and no
  Python; LSH banding explodes only (doc_id, band) pairs — k*|docs|
  tiny rows — and joins within buckets. This is the textbook
  distributed MinHash-LSH; candidate verification joins signatures
  back (not texts).
- simhash: per-row bit aggregation over token hashes via array
  expressions; near-dup = equal simhash (or banded bit-blocks).
- ngram_jaccard: exact pairwise Jaccard via token-posting-list
  self-join; document-frequency pruning (`max_df`) bounds the
  posting explosion at scale.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.hashing import md5_int

# Universal-hash parameters for MinHash: ONE 28-bit md5 base hash per
# shingle, then k cheap integer mixes h_i = (a_i*h + b_i) mod P.
# 16x fewer md5 evaluations than seeded-md5 per-permutation hashing.
# Constants are fixed so external oracles can reproduce them.
MINHASH_P = 2147483647  # 2^31 - 1
def minhash_params(i: int) -> tuple[int, int]:
    a = (2654435761 * (i + 1)) % MINHASH_P
    b = (40503 * (i + 7) + 12345) % MINHASH_P
    return (a or 1), b


def widen(ctx: OpContext, df: DataFrame, config: dict[str, Any] | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy
    per-row expressions. Single-file small-table scans arrive as one
    partition; hashing 10^7 shingles on one core would serialize the
    whole stage. No-op when the input is already wide (the 100 TB
    case — real scans come in thousands of splits).

    `widen` in the op config overrides: False disables, an int forces
    that partition count. The auto path estimates the scan's split
    count from public API only (``df.inputFiles()`` + local file
    sizes vs ``spark.sql.files.maxPartitionBytes``) — no ``_jdf``,
    no RDD conversion, no Spark job — so it also works on
    Spark-Connect sessions, where the JVM plan isn't reachable."""
    knob = (config or {}).get("widen", "auto")
    if knob is False or knob == 0:
        return df
    if isinstance(knob, int) and not isinstance(knob, bool):
        return df.repartition(knob)
    try:
        target = ctx.spark.sparkContext.defaultParallelism
    except Exception:  # Spark-Connect: no SparkContext on the client
        try:
            target = int(ctx.spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            return df
    try:
        files = df.inputFiles()
    except Exception:
        files = None
    if not files or len(files) >= target:
        # Non-file source (leave the upstream layout alone) or a scan
        # that already has at least one split per core.
        return df
    splits = _estimate_scan_splits(ctx, files)
    if splits < target:
        return df.repartition(target)
    return df


def _estimate_scan_splits(ctx: OpContext, files: list[str]) -> int:
    """Lower-bound the number of scan partitions: each file yields at
    least one split, plus one per maxPartitionBytes for local files we
    can stat. Remote files (hdfs/s3) count 1 each — conservative, but
    the widen case is local single-file test scans; real cluster scans
    have more files than cores and never reach here."""
    import os as _os
    from urllib.parse import urlparse

    try:
        raw = str(ctx.spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(raw[-1:].lower())
        max_bytes = int(raw[:-1]) * mult if mult else int(raw)
    except Exception:
        max_bytes = 134217728
    total = 0
    for uri in files:
        p = urlparse(uri)
        n = 1
        if p.scheme in ("", "file"):
            try:
                n = max(1, -(-_os.path.getsize(p.path) // max_bytes))
            except OSError:
                pass
        total += n
    return total


def tokens_expr(col: str, distinct: bool = True,
                lowercase: bool = True) -> Column:
    """Whitespace tokens of (lowercased) text, empty strings dropped.
    THE tokenizer for every span/shingle op — dedup.substring and
    text.cut_spans index into these tokens, so all users must share
    one definition (and the q113/q114 oracles replay it in SQL)."""
    c = F.col(col).cast("string")
    if lowercase:
        c = F.lower(c)
    toks = F.filter(F.split(c, r"\s+"), lambda t: t != "")
    return F.array_distinct(toks) if distinct else toks


def let_expr(value: Column, body) -> Column:
    """Bind ``value`` to a lambda variable and evaluate ``body(var)``.

    Spark evaluates any OUTER expression referenced inside a
    higher-order-function lambda once PER ELEMENT — e.g. a transform
    over n indices whose lambda slices a split() re-runs the split n
    times, turning shingling O(n) into O(n^2) per row (measured 4-6x
    on the 5k-doc corpus). Wrapping the expensive subtree in a
    single-element array and transforming over it gives a genuine
    `let`: the subtree is computed once and the lambda variable is a
    cheap slot read. Pure expression-level fix — no extra projection,
    works inside any operator's Column builder."""
    return F.transform(F.array(value), body)[0]


def char_ngrams_expr(col: str, n: int) -> Column:
    """Distinct character n-grams of the lowercased text."""
    return let_expr(
        F.lower(F.col(col)),
        lambda t: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1))),
                lambda i: F.substring(t, i, n),
            )
        ),
    )


def word_shingles_expr(col: str, n: int) -> Column:
    """Distinct word n-gram shingles (space-joined)."""
    toks = tokens_expr(col, distinct=False)
    if n <= 1:
        return F.array_distinct(toks)
    return let_expr(
        toks,
        lambda tk: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
            )
        ),
    )


def base_hash28(s: Column) -> Column:
    """28-bit md5-prefix hash (fits universal-hash products in int64)."""
    return F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("bigint")


@register(
    "dedup.exact", kind="transform", max_inputs=2,
    doc="Exact dedup via content fingerprint",
    params=[
        P("columns", "array", required=True, desc="Content column(s) to fingerprint"),
        P("id_column", required=True, desc="Row id (min id wins — deterministic)"),
        P("widen", "any", default="auto",
          desc="Spread narrow scans: auto, false, or a partition count"),
    ],
    example={"columns": ["text"], "id_column": "doc_id"},
    tags=["dedup", "datapipe"],
)
def dedup_exact(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Keep one row per distinct content (min of `id_column` wins —
    deterministic, unlike dropDuplicates' partition-order 'any')."""
    df = inputs[0]
    columns = config.get("columns")
    id_column = config.get("id_column")
    if not columns or not id_column:
        raise ConfigError("dedup.exact requires 'columns' and 'id_column'")
    columns = [columns] if isinstance(columns, str) else list(columns)
    fp = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in columns]))
    if len(inputs) > 1:
        # INCREMENTAL: inputs = [new, existing]. Drop new rows whose
        # content already exists in the kept corpus, then dedup
        # new-vs-new (min id wins). Only fingerprints of `existing`
        # shuffle — never its rows; the daily-increment shape.
        existing = inputs[1]
        seen = existing.select(
            F.md5(
                F.concat_ws("\x1f", *[F.col(c).cast("string") for c in columns])
            ).alias("__fp")
        ).distinct()
        fresh = df.withColumn("__fp", fp).join(seen, on="__fp", how="left_anti")
        keep = (
            fresh.groupBy("__fp").agg(F.min(id_column).alias(id_column)).select(id_column)
        )
        return df.join(keep, on=id_column, how="semi")
    keep = (
        df.withColumn("__fp", fp)
        .groupBy("__fp")
        .agg(F.min(id_column).alias(id_column))
        .select(id_column)
    )
    return df.join(keep, on=id_column, how="semi")


def _shingles(config: dict[str, Any], column: str) -> Column:
    kind = config.get("shingle", "word")
    n = int(config.get("ngram", 3))
    if kind == "char":
        return char_ngrams_expr(column, n)
    if kind == "word":
        return word_shingles_expr(column, n)
    if kind == "token":
        return tokens_expr(column)
    raise ConfigError(f"unknown shingle kind {kind!r}")


@register(
    "dedup.minhash", kind="transform", max_inputs=2,
    doc="MinHash signatures + LSH band buckets",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id"),
        P("num_hashes", "integer", default=16, min=2, desc="MinHash permutations"),
        P("bands", "integer", default=4, min=1, desc="LSH bands (rows = hashes/bands)"),
        P("shingle", default="word", allowed=("word", "char", "token"),
          desc="Shingle unit"),
        P("ngram", "integer", default=3, min=1, desc="Shingle size"),
        P("pairs", default="all", allowed=("all", "star"),
          desc="all: every intra-bucket pair (O(d^2) per bucket; needed "
               "for pair-level verification); star: one edge per member "
               "to the bucket-min hub (O(d), same connected components — "
               "the scale mode for clustering)"),
        P("widen", "any", default="auto",
          desc="Spread narrow scans: auto, false, or a partition count"),
    ],
    example={"column": "text", "id_column": "doc_id", "num_hashes": 128, "bands": 32},
    tags=["dedup", "lsh", "datapipe"],
)
def dedup_minhash(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Emit candidate duplicate pairs (id_a < id_b) from MinHash-LSH.

    bands*rows_per_band == num_hashes; a pair is a candidate if any
    band signature matches. Output: id_a, id_b, n_bands (matching).

    INCREMENTAL mode: inputs = [new, existing] (distinct id spaces —
    caller's contract) emits only pairs touching the NEW side
    (new-new and new-existing); existing-existing pairs are already
    resolved and never re-materialize — the shuffle still carries
    only (id, band, sig) for both sides.
    """
    df = inputs[0]
    column = config.get("column")
    id_column = config.get("id_column")
    if not column or not id_column:
        raise ConfigError("dedup.minhash requires 'column' and 'id_column'")
    existing = inputs[1] if len(inputs) > 1 else None
    if existing is not None:
        df = df.withColumn("__new", F.lit(True)).unionByName(
            existing.select(*df.drop("__new").columns).withColumn("__new", F.lit(False))
        )
    num_hashes = int(config.get("num_hashes", 16))
    bands = int(config.get("bands", 4))
    if num_hashes % bands != 0:
        raise ConfigError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands

    # Three explicit projections so Catalyst does NOT inline the
    # expensive shingle/hash subtrees into every one of the k mins
    # (CollapseProject keeps multi-referenced non-cheap projections):
    #   text -> shingle array -> base-hash array -> k universal mins.
    extra = ["__new"] if existing is not None else []
    base = widen(ctx, df, config).select(
        F.col(id_column).alias("__id"), _shingles(config, column).alias("__sh"), *extra
    )
    hashed = base.select(
        "__id", F.transform(F.col("__sh"), base_hash28).alias("__bh"), *extra
    )
    # SQL-string projections, one parse call each: the Column-API
    # equivalents (k array_min/transform objects, bands structs) cost
    # ~6 py4j round-trips per hash — measured >1.5 s of driver time
    # per query build at k=128. Identical expressions after parsing.
    mins = [
        "array_min(transform(__bh, h -> ({a}L * h + {b}L) % {p}L)) AS __h{i}".format(
            a=minhash_params(i)[0], b=minhash_params(i)[1], p=MINHASH_P, i=i
        )
        for i in range(num_hashes)
    ]
    with_sig = hashed.selectExpr("__id", *extra, *mins)
    band_structs = ", ".join(
        "named_struct('band', {b}, 'sig', md5(concat_ws('_', {parts})))".format(
            b=b,
            parts=", ".join(
                f"__h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    buckets = with_sig.selectExpr(
        "__id", *extra, f"explode(array({band_structs})) AS __b"
    ).select("__id", *extra, F.col("__b.band").alias("band"), F.col("__b.sig").alias("sig"))
    if config.get("pairs", "all") == "star":
        # STAR EDGES: one edge per bucket member to the bucket's
        # min-id hub instead of all O(d^2) intra-bucket pairs — the
        # connected components are IDENTICAL (every member reaches
        # the hub), edge count per bucket drops to O(d), and the
        # self-join disappears entirely (a window over the skinny
        # (id, band, sig) rows). The mode for dup-cluster-heavy
        # corpora feeding dedup.components; pair-level candidate
        # verification (jaccard on each pair) needs pairs="all".
        from pyspark.sql import Window

        w = Window.partitionBy("band", "sig")
        if existing is not None:
            # INCREMENTAL star: the hub must be a NEW doc — with a
            # min-id hub, the dropped old-old edges could disconnect
            # members that only met through an old hub. min over
            # (is_old, id) prefers new members; buckets with no new
            # member (old hub) are old-old only and skip entirely.
            hub_struct = F.min(
                F.struct((~F.col("__new")).alias("o"), F.col("__id").alias("i"))
            ).over(w)
            starred = buckets.withColumn("__hub", hub_struct["i"]).withColumn(
                "__hubold", hub_struct["o"]
            )
            edges = starred.filter(
                (F.col("__id") != F.col("__hub")) & (~F.col("__hubold"))
            )
        else:
            hub_struct = F.min(F.struct(F.col("__id").alias("i"))).over(w)
            starred = buckets.withColumn("__hub", hub_struct["i"])
            edges = starred.filter(F.col("__id") != F.col("__hub"))
        return (
            edges.groupBy(
                F.col("__hub").alias("id_a"), F.col("__id").alias("id_b")
            )
            .agg(F.count(F.lit(1)).alias("n_bands"))
        )
    # pairs within a bucket; shuffle carries only (id, band, sig).
    # Persisted: both self-join sides otherwise re-run the whole
    # shingle -> base-hash -> k-minhash -> band chain, the op's
    # dominant per-row cost (r13; the knn.lsh band-frame rationale —
    # star mode has one consumer and skips the cache).
    buckets = ctx.persist(buckets)
    a, b = buckets.alias("a"), buckets.alias("b")
    joined = a.join(b, on=["band", "sig"]).filter(F.col("a.__id") < F.col("b.__id"))
    if existing is not None:
        # only pairs touching the new side; old-old already resolved
        joined = joined.filter(F.col("a.__new") | F.col("b.__new"))
    pairs = (
        joined.groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    return pairs


@register(
    "dedup.simhash", kind="transform", doc="Per-doc SimHash fingerprint",
    params=[
        P("column", required=True, desc="Text column"),
        P("output_column", default="simhash", desc="Fingerprint column"),
        P("bits", "integer", default=32, min=1, max=64, desc="Fingerprint width"),
        P("shingle", default="token", allowed=("word", "char", "token"),
          desc="Feature unit"),
        P("ngram", "integer", default=3, min=1, desc="Shingle size (word/char)"),
        P("widen", "any", default="auto",
          desc="Spread narrow scans: auto, false, or a partition count"),
    ],
    example={"column": "text", "bits": 64},
    tags=["dedup", "datapipe"],
)
def dedup_simhash(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Add a `simhash` column: sign-aggregated token-hash bits.

    bit j of simhash = 1 iff sum over tokens of (bit j of h(token) ?
    +1 : -1) > 0. Near-dups share most bits (compare via hamming
    distance or band-grouping on bit blocks).
    """
    df = inputs[0]
    column = config.get("column")
    if not column:
        raise ConfigError("dedup.simhash requires 'column'")
    bits = int(config.get("bits", 32))
    output_column = config.get("output_column", "simhash")
    toks = _shingles(config | {"shingle": config.get("shingle", "token")}, column)
    # materialize the hash array once — the per-bit votes reference it
    # `bits` times (see dedup_minhash on CollapseProject behavior)
    df = widen(ctx, df, config).withColumn("__simhash_h", F.transform(toks, lambda t: md5_int(t)))
    # per-bit vote: count of set bits vs total tokens. Bit test is
    # (h >> j) & 1 — NOT the earlier modulo form ((h % 2^(j+1)) >=
    # 2^j): at j=63 that computed h % shiftleft(2L, 63), and 2<<63
    # overflows int64 to 0, so h % 0 returned NULL and poisoned the
    # whole fold (every fingerprint NULL at bits=64). The shift form
    # is identical for the non-negative 60-bit hashes at every j.
    # ONE SQL-string expression instead of a per-bit Column loop: the
    # loop version made ~10 py4j round-trips per bit (measured
    # ~2.5 s of driver time per build at bits=32) and unrolled
    # `bits` copies of the fold into codegen; the sequence() form is
    # a single parsed expression with the same arithmetic, so oracle
    # parity holds.
    vote = (
        "aggregate(transform(sequence(0, {last}), j -> "
        "CAST(aggregate(__simhash_h, 0L, "
        "(a, h) -> a + (shiftright(h, j) & 1)"
        ") * 2 > size(__simhash_h) AS BIGINT) * shiftleft(1L, j)), "
        "0L, (a, v) -> a + v)"
    ).format(last=bits - 1)
    return df.withColumn(output_column, F.expr(vote)).drop("__simhash_h")


@register(
    "dedup.ngram_jaccard", kind="transform", max_inputs=2,
    doc="Pairwise n-gram Jaccard similarity",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id"),
        P("ngram", "integer", default=3, min=1, desc="Shingle size"),
        P("shingle", default="word", allowed=("word", "char", "token"),
          desc="Shingle unit"),
        P("threshold", "float", default=0.8, min=0.0, max=1.0,
          desc="Jaccard similarity cutoff"),
        P("max_df", "float", default=0.05, min=0.0, max=1.0,
          desc="Prune shingles appearing in more than this doc fraction "
               "(the scale guard against O(n²) hot shingles)"),
        P("exact", "boolean",
          desc="Opt out of max_df pruning (exact but quadratic on hot shingles)"),
        P("verify", "boolean", default=False,
          desc="Recompute jaccard on the gram STRINGS for threshold-"
               "passing pairs (string-exact; O(pairs x set size) extra "
               "cost). Default counts on a 128-bit gram key"),
        P("pair_a", default="id_a",
          desc="Pair column A: the output name (all modes) and the "
               "candidate-input column name (candidate-verify mode)"),
        P("pair_b", default="id_b",
          desc="Pair column B: the output name (all modes) and the "
               "candidate-input column name (candidate-verify mode)"),
        P("widen", "any", default="auto",
          desc="Spread narrow scans: auto, false, or a partition count"),
    ],
    example={"column": "text", "id_column": "doc_id", "threshold": 0.8},
    tags=["dedup", "jaccard", "datapipe"],
)
def dedup_ngram_jaccard(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Jaccard over shingle sets — safe-by-default at scale.

    Output: id_a, id_b, jaccard (>= threshold). Three modes:

    - default: candidates-then-verify posting self-join with
      document-frequency pruning ON (`max_df` = 0.05). Shingles
      appearing in more than max(floor(max_df * n_docs), 1) documents
      are dropped from the posting lists — a hot shingle at 100 TB
      otherwise turns one reduce task into an O(df^2) pair explosion.
      The hot-shingle list (not the keep-list — hot tokens are
      bounded by n_postings/cap, keep-lists grow with the corpus) is
      detected by a two-phase skinny aggregate (hash-df first, string
      resolve on the survivors) and anti-joined broadcast-side; no
      driver action at plan build. Intersections are counted over
      (128-bit gram key, id, size) rows — two independently seeded
      xxhash64 halves; the pair join never shuffles gram strings or
      shingle arrays, and a 128-bit collision among distinct grams
      (P < 2^-90 for any feasible corpus) is the only way a count
      can differ from string counting. `verify=true` additionally
      recomputes jaccard on the gram strings for threshold-passing
      pairs (string-exact output; worth it only when output pairs <<
      the posting pair-stream — on dense near-dup clusters the
      candidate set is output-sized and the array join dominates).
      Pruning is
      conservative: denominators keep the FULL set sizes, so reported
      jaccard <= true jaccard (near-dups whose overlap is
      hot-shingle-only may be missed; no false positives).
    - `exact=true` (or max_df >= 1): the unpruned exact join —
      opt-in, quadratic in hot-shingle document frequency.
    - candidate verification: a second input of (id_a, id_b) pairs
      (e.g. dedup.minhash output) joins shingle sets to the pairs and
      computes exact jaccard on candidates only — the standard
      minhash-then-verify pipeline, linear in |candidates|.
    """
    df = inputs[0]
    column = config.get("column")
    id_column = config.get("id_column")
    if not column or not id_column:
        raise ConfigError("dedup.ngram_jaccard requires 'column' and 'id_column'")
    threshold = float(config.get("threshold", 0.8))
    shingles = _shingles(config, column)
    base = widen(ctx, df, config).select(
        F.col(id_column).alias("__id"), shingles.alias("__sh")
    ).withColumn("__size", F.size("__sh"))

    if len(inputs) > 1:
        # candidate-verify mode: exact jaccard on given pairs only
        cands = inputs[1].select(config.get("pair_a", "id_a"), config.get("pair_b", "id_b"))
        id_a, id_b = cands.columns
        sets_a = base.select(F.col("__id").alias(id_a), F.col("__sh").alias("__sh_a"),
                             F.col("__size").alias("__size_a"))
        sets_b = base.select(F.col("__id").alias(id_b), F.col("__sh").alias("__sh_b"),
                             F.col("__size").alias("__size_b"))
        inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
        denom = F.col("__size_a") + F.col("__size_b") - inter
        # a candidate pair of two EMPTY shingle sets has denominator 0
        # — under ANSI (Spark 4 default) the division would be a hard
        # DIVIDE_BY_ZERO, not NaN; jaccard over empty sets is
        # undefined, so the pair is dropped via a NULL
        jac = F.when(denom > 0, inter / denom)
        # output keeps the configured pair column names (review
        # finding: these were silently renamed to hardcoded id_a/id_b)
        return (
            cands.join(sets_a, on=id_a).join(sets_b, on=id_b)
            .select(id_a, id_b, jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )

    # ------------------------------------------------------------------
    # self-join mode. The naive posting self-join shuffles every
    # posting row with its full shingle STRING (~30+ bytes) through a
    # sort-merge join — at 16x-Zipf sf0.1 that spilled 18 GB. Instead:
    #   1. hot-set detection as a TWO-PHASE skinny aggregate: group
    #      by xxhash64(gram) first (8-byte shuffle keys; hash-df >=
    #      string-df, so hash-hot is a superset of string-hot), then
    #      resolve the few survivors by string — the exact oracle
    #      hot set, without ever shuffling the full gram strings.
    #   2. intersection counting over (h1, h2, id, size) rows — a
    #      128-bit gram key from two independently seeded xxhash64
    #      halves; the broadcast anti-join on the hot STRINGS runs
    #      map-side before the exchange, so the pair join shuffles
    #      ~28-byte fixed-width rows instead of strings.
    #   3. optional verify=true: re-attach pruned shingle arrays
    #      (array_except against the broadcast hot list) for the
    #      O(candidates) ids only — a broadcast semi on the candidate
    #      id list keeps the arrays from ever shuffling — and
    #      recompute jaccard on the strings (pruned numerator /
    #      FULL-size denominator).
    # ------------------------------------------------------------------
    postings = base.select("__id", "__size", F.explode("__sh").alias("__tok"))
    max_df = float(config.get("max_df", 0.05))
    pruned = not config.get("exact") and max_df < 1.0
    if pruned:
        if max_df <= 0:
            raise ConfigError("dedup.ngram_jaccard: max_df must be in (0, 1]")
        # cap = max(floor(max_df * n_docs), 1), computed lazily: the
        # doc total rides along as a broadcast 1-row aggregate.
        # 1-row doc total, referenced by BOTH df-filter phases — each
        # reference is a full input count scan without persist (r13)
        totals = ctx.persist(base.agg(F.count(F.lit(1)).alias("__total")))
        cap = F.greatest(F.floor(F.lit(max_df) * F.col("__total")), F.lit(1))
        hcand = (
            postings.groupBy(F.xxhash64("__tok").alias("__h"))
            .agg(F.count(F.lit(1)).alias("__df"))
            .join(F.broadcast(totals))
            .filter(F.col("__df") > cap)
            .select("__h")
        )
        hot = (
            postings.withColumn("__h", F.xxhash64("__tok"))
            .join(F.broadcast(hcand), on="__h")
            .groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
            .join(F.broadcast(totals))
            .filter(F.col("__df") > cap)
            .select("__tok")
        )
        # The hot-shingle list is TINY (<= n_postings/cap rows) but
        # its two-phase detection chain is 3 full posting scans — and
        # it is re-evaluated once per consumer: both sides of the
        # pair self-join anti-join against it, and verify mode reads
        # it a third time for the array prune (r13 measurement: q51
        # ran 20 parquet scans; 8 after). Guide §8's decision-table
        # persist.
        hot = ctx.persist(hot)
        postings = postings.join(F.broadcast(hot), on="__tok", how="anti")
    # salt FIRST: Spark's multi-arg xxhash64 folds left-to-right with
    # the running hash as the next seed, so xxhash64(tok, salt) would
    # be a pure function of xxhash64(tok) — a 64-bit collision would
    # collide the full key. xxhash64(salt, tok) hashes the gram under
    # the DERIVED seed XXH64(salt, 42) != 42: an independent family
    # member, giving the pair a true 128-bit collision bound.
    skinny = postings.select(
        "__id", "__size",
        F.xxhash64("__tok").alias("__h1"),
        F.xxhash64(F.lit(0x9E3779B9), "__tok").alias("__h2"),
    )
    a, b = skinny.alias("a"), skinny.alias("b")
    # size-ratio filter (PPJoin): jaccard >= t is impossible unless
    # min(|A|,|B|) >= t * max(|A|,|B|) — prunes size-mismatched pair
    # rows inside the join stage, BEFORE they hit the aggregate
    size_ok = (
        (F.col("a.__size") * F.lit(threshold) <= F.col("b.__size"))
        & (F.col("b.__size") * F.lit(threshold) <= F.col("a.__size"))
    )
    pairs = (
        a.join(b, on=["__h1", "__h2"])
        .filter((F.col("a.__id") < F.col("b.__id")) & size_ok)
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__size").alias("size_a"),
            F.col("b.__size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("__inter"))
        .filter(
            F.col("__inter")
            / (F.col("size_a") + F.col("size_b") - F.col("__inter"))
            >= threshold
        )
    )
    out_a = config.get("pair_a", "id_a")
    out_b = config.get("pair_b", "id_b")
    if not config.get("verify"):
        jac = (F.col("__inter")
               / (F.col("size_a") + F.col("size_b") - F.col("__inter")))
        return pairs.select(F.col("id_a").alias(out_a),
                            F.col("id_b").alias(out_b),
                            jac.alias("jaccard"))
    # verify=true: re-attach pruned shingle ARRAYS for the candidate
    # ids only and recompute jaccard on the strings themselves —
    # string-exact output at O(candidates * |shingle set|) extra
    # cost. Worth it only when output pairs << corpus pair-stream
    # (sparse duplication); on dense near-dup clusters the candidate
    # set IS output-sized and the array join dominates.
    # the pair join + aggregation is the op's dominant stage and cand
    # feeds THREE consumers below (the final join and both branches of
    # cand_ids' union) — without lineage truncation Spark's best-effort
    # exchange reuse can re-execute it per consumer
    cand = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    if pruned:
        hot_arr = hot.agg(F.collect_list("__tok").alias("__hot"))
        sets = base.crossJoin(F.broadcast(hot_arr)).select(
            "__id", "__size",
            F.array_except("__sh", F.coalesce(
                F.col("__hot"), F.array().cast("array<string>")
            )).alias("__shp"),
        )
    else:
        sets = base.select("__id", "__size", F.col("__sh").alias("__shp"))
    cand_ids = (
        cand.select(F.col("id_a").alias("__id"))
        .union(cand.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    sets_c = sets.join(F.broadcast(cand_ids), on="__id")
    va = sets_c.select(F.col("__id").alias("id_a"),
                       F.col("__shp").alias("__shp_a"),
                       F.col("__size").alias("__size_a"))
    vb = sets_c.select(F.col("__id").alias("id_b"),
                       F.col("__shp").alias("__shp_b"),
                       F.col("__size").alias("__size_b"))
    inter = F.size(F.array_intersect("__shp_a", "__shp_b"))
    jac = inter / (F.col("__size_a") + F.col("__size_b") - inter)
    return (
        cand.join(va, on="id_a").join(vb, on="id_b")
        .select(F.col("id_a").alias(out_a), F.col("id_b").alias(out_b),
                jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@register(
    "dedup.embedding", kind="transform", doc="Embedding-cosine near-duplicate pairs",
    params=[
        P("id_column", required=True, desc="Row id"),
        P("column", default="embedding", desc="Vector column (array<float>)"),
        P("bucket_column", desc="Blocking column — REQUIRED at scale "
                                "(refuses all-pairs without it)"),
        P("threshold", "float", default=0.95, min=-1.0, max=1.0,
          desc="Cosine similarity cutoff"),
        P("allow_full", "boolean", default=False,
          desc="Opt in to the O(n²) unblocked comparison"),
        P("method", default="gemm", allowed=("gemm", "join"),
          desc="Retired: both values run the same engine with "
               "identical output (chosen from the input)"),
    ],
    example={"id_column": "id", "bucket_column": "lsh_sig", "threshold": 0.95},
    tags=["dedup", "embedding", "datapipe"],
)
def dedup_embedding(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Near-dup pairs by cosine similarity within a bucket column.

    `bucket_column` (e.g. an IVF/cluster id) bounds the O(n^2) pair
    join — pairs are only formed inside a bucket. Without it this is
    a full cross join: refuse unless `allow_full=true`.

    The engine follows from the input. With a bucket column, each
    bucket is one Arrow batch and a chunked BLAS M @ M.T emits the
    surviving pairs. Without one (`allow_full`), or when the id is a
    year-month interval (which Arrow cannot return), a distributed
    pair join computes the same pairs. A calendar interval id is
    refused: Arrow cannot return it and the pair join cannot order
    it. ``method`` is retired: "gemm" and "join" both run this
    choice.
    """
    df = inputs[0]
    column = config.get("column", "embedding")
    id_column = config.get("id_column")
    if not id_column:
        raise ConfigError("dedup.embedding requires 'id_column'")
    if config.get("method", "gemm") not in ("gemm", "join"):
        raise ConfigError("dedup.embedding: method must be gemm|join")
    threshold = float(config.get("threshold", 0.95))
    bucket = config.get("bucket_column")
    if not bucket and not config.get("allow_full"):
        raise ConfigError(
            "dedup.embedding without 'bucket_column' is a full O(n^2) cross join; "
            "set allow_full=true to force"
        )
    from pyspark.sql import types as T

    from conveyor_spark.datapipe.clustering import _has_type, _no_arrow_return

    id_type = df.schema[id_column].dataType
    if _has_type(id_type, (T.CalendarIntervalType,)):
        # neither engine can take it: Arrow cannot return it, and the
        # pair join's a.__id < b.__id cannot order it
        raise ConfigError(
            f"dedup.embedding: id column {id_column!r} is "
            f"{id_type.simpleString()}, which the pair join cannot order; "
            "cast it (e.g. to string or bigint) first"
        )
    if bucket and not _no_arrow_return(id_type):
        # Per-bucket BLAS path: each vector crosses the
        # bucket shuffle ONCE and Arrow-lands as a row of an (n_b, d)
        # matrix; a chunked M @ M.T emits only the surviving skinny
        # (id_a, id_b, cosine) triples. The join path below instead
        # materializes BOTH full vectors per candidate pair —
        # O(pairs x d x 8B) through the shuffle — and folds the dot
        # per pair in interpreted higher-order exprs (HOFs don't
        # codegen); measured 8x slower at sf0.1 and the gap widens
        # with bucket size. Same bucket-level parallelism/skew as the
        # equi-join (a bucket's pairs were already one join partition);
        # chunking bounds the similarity block at ~320 MB regardless
        # of bucket size. Values match the fold exactly after round-6
        # (GEMM reorders the summation; diffs are ~1 ulp). allow_full
        # (no bucket) keeps the JOIN path below: a keyless GEMM would
        # funnel everything into ONE Python task, while the cross join
        # at least distributes the O(n^2) work.
        import numpy as np
        import pandas as pd

        idt = id_type.simpleString()
        thr = threshold

        def bucket_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
            empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
            pdf = pdf[pdf[column].notna()]
            if len(pdf) < 2:
                return empty
            pdf = pdf.sort_values(id_column)
            out_a, out_b, out_c = [], [], []
            # RAGGED buckets: vectors of different lengths can't share
            # a matrix, and the join path's zip_with over a length
            # mismatch yields a NULL cosine (pair dropped) — so GEMM
            # within each length group reproduces it exactly
            for _, grp in pdf.groupby(pdf[column].str.len()):
                if len(grp) < 2:
                    continue
                ids = grp[id_column].to_numpy()
                M = np.asarray(grp[column].to_list(), dtype=np.float64)
                norms = np.sqrt((M * M).sum(axis=1))
                # zero-norm / NaN vectors have no direction: their
                # cosine is NaN, which Spark COMPARES AS LARGEST — on
                # the join path a NaN pair would pass any threshold.
                # Excluded uniformly on both paths (see the join
                # branch's matching filter).
                ok = np.isfinite(norms) & (norms > 0)
                if not ok.all():
                    ids, M, norms = ids[ok], M[ok], norms[ok]
                    if len(ids) < 2:
                        continue
                ch = max(1, int(4e7) // len(ids))  # <=320MB sim block
                for s in range(0, len(ids), ch):
                    sims = (M[s:s + ch] @ M.T) / np.outer(norms[s:s + ch], norms)
                    sims = np.round(sims, 6)
                    ri, ci = np.nonzero(sims >= thr)
                    # compare id VALUES, not positions: duplicate ids
                    # must not pair with themselves (join path:
                    # a.__id < b.__id)
                    keep = ids[ri + s] < ids[ci]
                    out_a.append(ids[ri[keep] + s])
                    out_b.append(ids[ci[keep]])
                    out_c.append(sims[ri[keep], ci[keep]])
            if not out_a:
                return empty
            return pd.DataFrame({"id_a": np.concatenate(out_a),
                                 "id_b": np.concatenate(out_b),
                                 "cosine": np.concatenate(out_c)})

        # slim projection: only (id, vector, bucket) cross the bucket
        # shuffle — never e.g. a document body riding the same row.
        # NULL buckets are dropped to match the join path's null-unsafe
        # a.__bk == b.__bk (groupBy would pool them into one group).
        slim = df.select(id_column, column, bucket).filter(
            F.col(bucket).isNotNull()
        )
        return slim.groupBy(bucket).applyInPandas(
            bucket_pairs, schema=f"id_a {idt}, id_b {idt}, cosine double"
        )

    from conveyor_spark.datapipe.similarity import norm_expr, pair_cosine

    vecs = df.select(
        F.col(id_column).alias("__id"),
        F.col(column).alias("__v"),
        norm_expr(F.col(column)).alias("__n"),  # norm once per vector
        *( [F.col(bucket).alias("__bk")] if bucket else [] ),
    ).filter(
        # zero-norm / NaN vectors: cosine is NaN, and Spark compares
        # NaN as LARGER than everything — such a pair would pass any
        # threshold. Excluded (cosine undefined), matching the GEMM
        # path. NaN > 0 is true in Spark, hence the explicit isnan.
        F.col("__n").isNotNull() & ~F.isnan("__n") & (F.col("__n") > 0)
    )
    a, b = vecs.alias("a"), vecs.alias("b")
    on = [F.col("a.__bk") == F.col("b.__bk")] if bucket else []
    cond = F.col("a.__id") < F.col("b.__id")
    joined = a.join(b, on=on[0] & cond if on else cond)
    cos = pair_cosine(F.col("a.__v"), F.col("b.__v"), F.col("a.__n"), F.col("b.__n"))
    return (
        joined.select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


@register(
    "dedup.hamming", kind="transform",
    doc="Near-dup pairs from int64 fingerprints (banded Hamming join)",
    params=[
        P("fingerprint_column", default="simhash",
          desc="int64 fingerprint column (dedup.simhash, media.phash)"),
        P("id_column", required=True, desc="Row id"),
        P("bits", "integer", default=64, min=2, max=64,
          desc="Fingerprint width in bits"),
        P("max_distance", "integer", default=3, min=0,
          desc="Max Hamming distance for a pair"),
        P("bands", "integer", min=1,
          desc="Band count (default max_distance+1 — the pigeonhole "
               "minimum for EXACT recall; more bands = more candidates)"),
        P("pair_a", default="id_a", desc="Output pair column A"),
        P("pair_b", default="id_b", desc="Output pair column B"),
        P("max_bucket", "integer", min=1,
          desc="Hot-bucket guard: drop band buckets larger than this "
               "(bounds the join on duplicate-heavy data; costs recall "
               "only inside such clusters)"),
    ],
    example={"id_column": "doc_id", "fingerprint_column": "x",
             "bits": 32, "max_distance": 3},
    tags=["dedup", "simhash", "phash", "datapipe"],
)
def dedup_hamming(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """The PAIRING half of fingerprint near-dup (dedup.simhash and
    media.phash produce the fingerprints; this finds the close
    pairs): split the b-bit fingerprint into ``bands`` contiguous
    blocks and equi-join on (band, block value) — by pigeonhole, two
    fingerprints within Hamming distance d agree EXACTLY on at least
    one of d+1 bands, so the default band count gives exact recall,
    not an approximation. Candidates verify with ONE codegen'd
    bit_count(a ^ b) <= d.

    Output: (pair_a, pair_b, distance), pair_a < pair_b.

    Scale: same skinny-band-rows shape as dedup.minhash/knn.lsh —
    fingerprints are 8 bytes so the band explode shuffles ~24 bytes
    per row per band; nothing is quadratic except inside a shared
    band bucket (cap with max_bucket on pathological corpora).
    """
    df = inputs[0]
    id_column = config.get("id_column")
    if not id_column:
        raise ConfigError("dedup.hamming requires 'id_column'")
    fcol = config.get("fingerprint_column", "simhash")
    if fcol not in df.columns:
        raise ConfigError(f"dedup.hamming: no column {fcol!r} in input")
    bits = int(config.get("bits", 64))
    max_distance = int(config.get("max_distance", 3))
    bands = int(config.get("bands", max_distance + 1))
    if bands > bits:
        raise ConfigError("dedup.hamming: bands must be <= bits")
    pair_a = config.get("pair_a", "id_a")
    pair_b = config.get("pair_b", "id_b")

    # contiguous bands of floor/ceil width covering all `bits`
    base, extra = divmod(bits, bands)
    spans = []
    start = 0
    for j in range(bands):
        width = base + (1 if j < extra else 0)
        spans.append((start, width))
        start += width

    fp = F.col(fcol).cast("long")
    side = df.select(F.col(id_column).alias("__id"), fp.alias("__fp"))
    bandvals = F.array(*[
        F.struct(
            F.lit(j).alias("band"),
            F.shiftrightunsigned(F.col("__fp"), s).bitwiseAND(
                F.lit((1 << w) - 1 if w < 64 else -1)
            ).alias("val"),
        )
        for j, (s, w) in enumerate(spans)
    ])
    # the fingerprint IS 8 bytes — unlike knn.lsh's vectors it rides
    # the band rows, so the verify needs no extra id-keyed joins
    banded = side.select("__id", "__fp", F.explode(bandvals).alias("__b"))
    if (max_bucket := config.get("max_bucket")) is not None:
        from pyspark.sql import Window

        wb = Window.partitionBy("__b")
        banded = (
            banded.withColumn("__bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bn") <= int(max_bucket))
            .drop("__bn")
        )
    # Persisted: both self-join sides otherwise re-run the fingerprint
    # subtree (possibly a simhash fold or a signature UDF) per row —
    # dedup.minhash's bucket-frame rationale
    banded = ctx.persist(banded)
    a = banded.select(F.col("__id").alias("__ida"),
                      F.col("__fp").alias("__fpa"),
                      F.col("__b").alias("__ba"))
    b = banded.select(F.col("__id").alias("__idb"),
                      F.col("__fp").alias("__fpb"),
                      F.col("__b").alias("__bb"))
    return (
        a.join(b, on=F.col("__ba") == F.col("__bb"))
        .filter(F.col("__ida") < F.col("__idb"))
        # verify BEFORE the pair dedup: bit_count is one codegen'd
        # instruction, so filtering first shrinks the dedup shuffle
        .withColumn("distance", F.expr("bit_count(__fpa ^ __fpb)").cast("int"))
        .filter(F.col("distance") <= max_distance)
        .dropDuplicates(["__ida", "__idb"])
        .select(
            F.col("__ida").alias(pair_a),
            F.col("__idb").alias(pair_b),
            "distance",
        )
    )
