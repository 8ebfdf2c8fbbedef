"""join.fuzzy — approximate string matching between two tables.

Entity-resolution primitive (match customer names against a vendor
list, merge near-identical product titles). Not in the reference;
standard in data-cleaning pipelines.

Scale design: never a cross join. Candidates come from a q-gram
posting-list join (two id+gram tables shuffle, the full rows never
do); the exact Levenshtein runs ONLY on candidate pairs, with a
length prefilter and Spark's thresholded levenshtein (early-exits
the DP past `max_distance`). Completeness: a pair at edit distance
<= k shares at least one q-gram when the shorter string has more
than (k+1)*q - 1 characters (each edit destroys at most q grams) —
for q=3, k=2 that is strings of 9+ chars; shorter strings need a
smaller ``ngram``. ``max_df`` prunes stop-gram posting lists (same
knob and trade as dedup.ngram_jaccard: bounded lists, documented
recall loss on pairs whose every shared gram is hot).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.dedup import char_ngrams_expr


@register(
    "join.fuzzy",
    kind="transform",
    min_inputs=2,
    max_inputs=3,
    doc="Edit-distance pairs via q-gram blocking + Levenshtein verify",
    params=[
        P("on", required=True, desc="Left string column"),
        P("id_column", required=True, desc="Left row id"),
        P("right_on", desc="Right string column (default: on)"),
        P("right_id_column", desc="Right row id (default: id_column)"),
        P("max_distance", "integer", default=2, min=0, desc="Levenshtein cutoff"),
        P("ngram", "integer", default=3, min=1, desc="Blocking q-gram size"),
        P("max_df", "float", min=0.0, max=1.0,
          desc="Prune q-grams above this doc frequency (hot-gram guard)"),
        P("pair_a", default="id_a",
          desc="Candidates mode: left-id column of the 3rd input"),
        P("pair_b", default="id_b",
          desc="Candidates mode: right-id column of the 3rd input"),
    ],
    example={"on": "name", "id_column": "id", "max_distance": 2},
    tags=["join", "fuzzy", "datapipe"],
)
def join_fuzzy(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """inputs = [left, right]. Config: ``on`` (left string column),
    ``right_on`` (default = on), ``id_column`` / ``right_id_column``
    (default = id_column), ``max_distance`` (default 2), ``ngram``
    (default 3), ``max_df`` (optional hot-gram pruning fraction).

    Output: (id_a, id_b, s_a, s_b, distance) — one row per candidate
    pair within distance; self-join callers should filter
    ``id_a < id_b`` downstream. Matching is case-insensitive (grams
    and distance both computed on lowercased strings).

    CANDIDATES MODE (the 100 TB path — dedup.ngram_jaccard's shape):
    inputs = [left, right, pairs] verifies a PRE-BLOCKED pair stream
    (``pair_a``/``pair_b`` columns, e.g. dedup.minhash over char
    q-grams) instead of building candidates from the q-gram posting
    join. The posting join's pair stream is quadratic in gram doc
    frequency BY SEMANTICS — even with the max_df guard armed it is
    the one family member still spilling GBs at 64x Zipf — while
    MinHash-LSH blocking shuffles only (id, band, sig) fixed-width
    rows and its candidate volume is tunable by band occupancy.
    Levenshtein runs once per candidate pair; recall follows the LSH
    curve (1-(1-j^r)^b over gram-set jaccard), the documented trade.
    """
    if len(inputs) not in (2, 3):
        raise ConfigError("join.fuzzy needs [left, right(, pairs)] inputs")
    left, right = inputs[0], inputs[1]
    on = config.get("on")
    id_column = config.get("id_column")
    right_on = config.get("right_on", on)
    right_id = config.get("right_id_column", id_column)
    k = int(config.get("max_distance", 2))
    if k < 0:
        raise ConfigError("join.fuzzy: max_distance must be >= 0")
    q = int(config.get("ngram", 3))
    max_df = config.get("max_df")

    def names(df: DataFrame, idc: str, sc: str, ids: str, ss: str,
              hs: str) -> DataFrame:
        # one row per distinct (id, string): the join-back must not
        # multiply survivors when the input carries duplicate rows
        return df.select(
            F.col(idc).alias(ids), F.lower(F.col(sc).cast("string")).alias(ss)
        ).withColumn(hs, F.xxhash64(ss)).dropDuplicates([ids, hs])

    if len(inputs) == 3:
        # candidates mode: thresholded verify on the given pairs only.
        # The blocking knobs have NO effect here — fail loudly rather
        # than let a caller migrate a q64-style config and believe
        # the hot-gram guard is still armed when it is dead config.
        for dead in ("max_df", "ngram"):
            if dead in config:
                raise ConfigError(
                    f"join.fuzzy: {dead!r} configures the q-gram blocking "
                    "and has no effect in candidates mode (3rd input given) "
                    "— blocking already happened upstream; remove the key"
                )
        pa = config.get("pair_a", "id_a")
        pb = config.get("pair_b", "id_b")
        cand = inputs[2].select(
            F.col(pa).alias("id_a"), F.col(pb).alias("id_b")
        # blocking mode's pair groupBy guarantees one row per (a, b);
        # match that contract for arbitrary pre-blocked streams — a
        # duplicated candidate row must not duplicate the output pair
        ).dropDuplicates(["id_a", "id_b"])
        na = names(left, id_column, on, "id_a", "s_a", "h_a").drop("h_a")
        nb = names(right, right_id, right_on, "id_b", "s_b", "h_b").drop("h_b")
        dist = F.levenshtein(F.col("s_a"), F.col("s_b"), k)
        return (
            cand.join(na, "id_a").join(nb, "id_b")
            # same cheap prefilter as blocking mode: a length gap > k
            # can never verify, and it skips the DP entirely
            .filter(F.abs(F.length("s_a") - F.length("s_b")) <= k)
            .withColumn("distance", dist)
            .filter(F.col("distance") >= 0)
            .select("id_a", "id_b", "s_a", "s_b", "distance")
        )

    def grams(df: DataFrame, idc: str, sc: str, ids: str, ss: str,
              ns: str, ls: str, hs: str) -> DataFrame:
        """SKINNY posting rows: (id, string-hash, gram-count,
        string-length, gram). The strings themselves do NOT ride the
        gram explode / candidate join / pair aggregation — for entity
        resolution the string can be hundreds of bytes while the ints
        are 24; survivors get the strings back via (id, hash)-keyed
        joins below. The xxhash64 of the lowered string rides along so
        an id that appears with SEVERAL different strings keeps each
        string's gram counts separate (id alone would merge them); the
        distinct-gram count and length ride along so count/length
        filtering needs no extra shuffle."""
        base = df.select(
            F.col(idc).alias(ids), F.lower(F.col(sc).cast("string")).alias(ss)
        ).withColumn("__gs", char_ngrams_expr(ss, q))
        return base.select(
            ids,
            F.xxhash64(ss).alias(hs),
            F.size("__gs").alias(ns),
            F.length(ss).alias(ls),
            F.explode("__gs").alias("__gram"),
        )

    lg = grams(left, id_column, on, "id_a", "s_a", "n_a", "l_a", "h_a")
    rg = grams(right, right_id, right_on, "id_b", "s_b", "n_b", "l_b", "h_b")
    if max_df is not None:
        # prune grams present in more than max_df of the RIGHT side
        # (the posting-list side that explodes); broadcast keep-list
        frac = float(max_df)
        if not (0 < frac <= 1):
            raise ConfigError("join.fuzzy: max_df must be in (0, 1]")
        # cap computed lazily (1-row broadcast aggregate, no action at
        # plan build — same pattern as dedup.ngram_jaccard)
        totals = right.agg(F.count(F.lit(1)).alias("__total"))
        cap = F.greatest(F.floor(F.lit(frac) * F.col("__total")), F.lit(1))
        keep = (
            rg.groupBy("__gram").agg(F.count_distinct("id_b").alias("__df"))
            .join(F.broadcast(totals))
            .filter(F.col("__df") <= cap)
            .select("__gram")
        )
        # both posting sides semi-join the keep-list; without persist
        # each broadcast re-runs the right side's full gram df
        # aggregate (r13 measurement: 16 parquet scans in the q64
        # plan). Gram-vocabulary-bounded rows.
        keep = ctx.persist(keep)
        lg = lg.join(F.broadcast(keep), "__gram", "left_semi")
        rg = rg.join(F.broadcast(keep), "__gram", "left_semi")

    # groupBy replaces the old .distinct() at the same shuffle cost
    # but ALSO yields |G(a) ∩ G(b)| (grams are distinct per id), which
    # powers q-gram COUNT FILTERING: one edit destroys at most q
    # distinct grams, so dist<=k requires shared >= max(n_a,n_b)-k*q.
    # On dense vocabularies this prunes most candidates before any
    # Levenshtein DP runs.
    cand = (
        lg.join(rg, "__gram")
        .groupBy("id_a", "h_a", "n_a", "l_a", "id_b", "h_b", "n_b", "l_b")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    if max_df is None:
        # n_a/n_b count ALL grams; under max_df some were pruned and
        # __shared would undercount — the bound only holds unpruned
        cand = cand.filter(
            F.col("__shared")
            >= F.greatest(F.greatest("n_a", "n_b") - F.lit(k * q), F.lit(1))
        )
    # cheap prefilter: |len(a) - len(b)| > k can never be within k —
    # applied while the rows are still string-free
    cand = cand.filter(F.abs(F.col("l_a") - F.col("l_b")) <= k).select(
        "id_a", "h_a", "id_b", "h_b"
    )
    # survivors only: strings come back via (id, hash)-keyed joins
    # (AQE broadcasts whichever name side is small)
    cand = (
        cand.join(names(left, id_column, on, "id_a", "s_a", "h_a"),
                  ["id_a", "h_a"])
        .join(names(right, right_id, right_on, "id_b", "s_b", "h_b"),
              ["id_b", "h_b"])
    )
    # thresholded levenshtein early-exits the DP past k (returns -1)
    dist = F.levenshtein(F.col("s_a"), F.col("s_b"), k)
    return (
        cand.withColumn("distance", dist)
        .filter(F.col("distance") >= 0)
        .select("id_a", "id_b", "s_a", "s_b", "distance")
    )
