"""dedup.components — connected components over duplicate pairs.

The last stage of the dedup pipeline the pair-emitting ops
(dedup.minhash / dedup.ngram_jaccard / dedup.embedding) feed: pairs
say "a duplicates b"; components turn that into clusters so exactly
one canonical document per cluster survives. (The reference never got
this far — its dedup story stops at distinct.apply; this is the
standard production step, cf. the union-find pass in web-dedup
pipelines.)

Algorithm: iterative min-label propagation. label(v) starts as v;
each round takes the min of a vertex's label and its neighbors'
labels — after d rounds every vertex in a component of diameter d
carries the component's min id. LSH/jaccard duplicate clusters are
near-cliques (diameter 2-3), so convergence is fast; the loop stops
early when no label changes.

Scale notes: each round is one shuffle join of (edge, label) — no
driver-side graph. `localCheckpoint` truncates lineage per round
(iterative joins otherwise stack exponentially deep plans). This op
RUNS JOBS when it executes its convergence loop (inherent to
iterative algorithms — same contract as GraphX/GraphFrames); pass
`iterations=k` for a fully lazy unrolled k-round plan instead.

Output: (id, component, is_canonical) — component is the min id of
the cluster; keep rows where is_canonical, or anti-join the rest.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


def _propagate(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One round: label(v) <- min(label(v), min over neighbors).
    Carries the previous label as ``__old`` so convergence is a
    filter on the materialized round — not an extra join job.

    Shape (r13): tag-and-union — the vertex's own (id, label) rows
    union the neighbor-label rows from the edge join, ONE groupBy(id)
    takes the min of both and re-derives __old from the self rows.
    Same per-round function as the previous join + groupBy(src) +
    left-join-back (min over {own label} ∪ {neighbor labels} ==
    least(own, neighbor-min); every id has >= 1 edge so the self row
    always exists), but 2 exchanges per round instead of 3 — a third
    fewer shuffle stages in every convergence cycle, exact int64 mins
    throughout."""
    neighbor = (
        und.join(labels, und["dst"] == labels["id"])
        .select(F.col("src").alias("id"), "label",
                F.lit(False).alias("__self"))
    )
    own = labels.select("id", "label", F.lit(True).alias("__self"))
    return (
        own.unionByName(neighbor)
        .groupBy("id")
        .agg(
            F.min("label").alias("label"),
            F.min(F.when(F.col("__self"), F.col("label"))).alias("__old"),
        )
    )


@register(
    "dedup.components", kind="transform",
    doc="Connected components over duplicate pairs",
    params=[
        P("pair_a", default="id_a", desc="Edge column A"),
        P("pair_b", default="id_b", desc="Edge column B"),
        P("iterations", "integer", min=1,
          desc="Fixed iteration count (skips convergence checks)"),
        P("max_iterations", "integer", default=20, min=1,
          desc="Convergence-mode bound (graph diameter)"),
        P("rounds_per_check", "integer", default=2, min=1,
          desc="Propagation rounds per materialize+convergence check "
               "(labels are monotone, so batched checks stay exact)"),
    ],
    example={"pair_a": "id_a", "pair_b": "id_b"},
    tags=["dedup", "graph", "datapipe"],
)
def dedup_components(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    pairs = inputs[0]
    col_a = config.get("pair_a", "id_a")
    col_b = config.get("pair_b", "id_b")
    if col_a not in pairs.columns or col_b not in pairs.columns:
        raise ConfigError(
            f"dedup.components needs pair columns {col_a!r}/{col_b!r} in the input "
            f"(have {pairs.columns}); set pair_a/pair_b"
        )
    edges = pairs.select(F.col(col_a).alias("src"), F.col(col_b).alias("dst"))

    fixed = config.get("iterations")
    if fixed is None:
        # Checkpoint EDGES, not the undirected union: the union's two
        # branches would otherwise each re-run the (expensive) pair
        # producer — minhash + jaccard-verify evaluated twice before
        # the loop even starts.
        edges = edges.localCheckpoint(eager=False)
    und = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = (
        und.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    )

    if fixed is not None:
        # fully lazy unrolled plan (no convergence actions)
        k = int(fixed)
        if k < 1:
            raise ConfigError("dedup.components: iterations must be >= 1")
        for _ in range(k):
            labels = _propagate(und, labels).drop("__old")
    else:
        max_iterations = int(config.get("max_iterations", 20))
        # Batch propagation rounds between materializations: labels
        # only ever decrease, so if the LAST round of a batch changed
        # nothing its input was already a fixed point — checking only
        # that round is exact, and each skipped check saves a
        # localCheckpoint + count job. Duplicate clusters are
        # near-cliques (diameter 2-3), so batch=2 usually converges
        # in ONE materialization cycle instead of three or four.
        batch = max(1, int(config.get("rounds_per_check", 2)))
        labels = labels.localCheckpoint(eager=True)
        done = 0
        while done < max_iterations:
            stepped = labels
            for _ in range(min(batch, max_iterations - done)):
                stepped = _propagate(und, stepped.drop("__old"))
                done += 1
            new_labels = stepped.localCheckpoint(eager=True)
            # convergence = scan of the just-materialized round
            changed = (
                new_labels.filter(F.col("label") != F.col("__old")).limit(1).count()
            )
            labels = new_labels.drop("__old")
            if changed == 0:
                break
        else:
            raise ConfigError(
                f"dedup.components did not converge in {max_iterations} rounds "
                "(a long duplicate chain?); raise max_iterations"
            )

    return labels.select(
        F.col("id"),
        F.col("label").alias("component"),
        (F.col("id") == F.col("label")).alias("is_canonical"),
    )


@register(
    "dedup.resolve", kind="transform", min_inputs=1, max_inputs=2,
    doc="Duplicate-cluster resolution: connected components + keep policy",
    params=[
        P("pair_a", default="id_a", desc="Edge column A"),
        P("pair_b", default="id_b", desc="Edge column B"),
        P("policy", default="min_id",
          allowed=("min_id", "max_score", "min_score"),
          desc="Which member of each duplicate cluster survives"),
        P("id_column", desc="Docs-table id column (required with a "
                            "docs input)"),
        P("score_column", desc="Docs-table score column (required for "
                               "score policies)"),
        P("max_iterations", "integer", default=20, min=1,
          desc="Component convergence bound (graph diameter)"),
    ],
    example={"pair_a": "id_a", "pair_b": "id_b", "policy": "min_id"},
    tags=["dedup", "graph", "curation", "datapipe"],
)
def dedup_resolve(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Turn a duplicate-PAIR table into per-document keep decisions
    that respect TRANSITIVE duplication: pairs (a,b),(b,c) are ONE
    cluster keeping one survivor — the naive "drop id_b of any pair"
    rule (fine for q132-style near-clique buckets) over-drops chains:
    it would drop both b and c and can drop every member of a cycle.

    inputs: [pairs] or [pairs, docs]. Policies: ``min_id`` keeps the
    smallest id (no docs table needed); ``max_score``/``min_score``
    keep the best/worst-scoring member (docs input with ``id_column``
    + ``score_column`` — the realistic curation choice: keep the
    longest / highest-quality duplicate). Ties break on lowest id;
    NULL scores never win unless the whole cluster is NULL-scored.

    Output: (id, component, kept). With a docs input, docs absent
    from any pair are included as their own kept singleons.

    Scale: components via the iterative min-label propagation of
    dedup.components (skinny (id, label) rows, localCheckpoint per
    batch); the policy pass is ONE groupBy(component) argmin over
    skinny (component, score, id) triples plus one broadcast-size
    join back. Nothing pairs quadratically here — feed it pair tables
    from minhash/winnow/embedding dedup."""
    pairs = inputs[0]
    policy = config.get("policy", "min_id")
    docs = inputs[1] if len(inputs) > 1 else None
    id_column = config.get("id_column")
    score_column = config.get("score_column")
    if policy != "min_id":
        if docs is None or not id_column or not score_column:
            raise ConfigError(
                "dedup.resolve: score policies need a docs input plus "
                "'id_column' and 'score_column'")
        for c in (id_column, score_column):
            if c not in docs.columns:
                raise ConfigError(f"dedup.resolve: docs table has no column {c!r}")
    elif docs is not None:
        if not id_column:
            raise ConfigError(
                "dedup.resolve: a docs input needs 'id_column' to emit "
                "singletons")
        if id_column not in docs.columns:
            raise ConfigError(
                f"dedup.resolve: docs table has no column {id_column!r}")

    comps = dedup_components(ctx, [pairs], {
        "pair_a": config.get("pair_a", "id_a"),
        "pair_b": config.get("pair_b", "id_b"),
        "max_iterations": config.get("max_iterations", 20),
    })

    if policy == "min_id":
        # min-label propagation already makes the min id the label
        resolved = comps.select(
            "id", "component", F.col("is_canonical").alias("kept"))
    else:
        # per-id score projection: NaN folds into the NULL bucket
        # (Spark sorts NaN LARGEST — an unfolded NaN would outrank
        # real scores under max_score and diverge from SQL engines;
        # the ks_test precedent), and duplicate doc rows collapse to
        # the policy's best score so they can't multiply output rows
        raw = F.col(score_column).cast("double")
        s_clean = F.when(F.isnan(raw), F.lit(None)).otherwise(raw)
        per_id = (F.max if policy == "max_score" else F.min)
        scores = (
            docs.select(F.col(id_column).alias("id"), s_clean.alias("__s"))
            .groupBy("id").agg(per_id("__s").alias("__s"))
        )
        # LEFT join: cluster members missing from the docs table stay
        # in the output as NULL-scored losers (an inner join would
        # silently re-keep them downstream), matching min_id's cover
        scored = comps.join(scores, "id", "left")
        sign = -1.0 if policy == "max_score" else 1.0
        # NULL scores sort LAST in the min-struct (never win unless
        # the whole cluster is NULL): encode as (is_null, signed s)
        key = F.struct(
            F.col("__s").isNull().alias("n"),
            (F.lit(sign) * F.coalesce(F.col("__s"), F.lit(0.0))).alias("s"),
            F.col("id").alias("i"),
        )
        winners = scored.groupBy("component").agg(
            F.min(key).alias("__w")
        ).select("component", F.col("__w.i").alias("__win"))
        resolved = scored.join(winners, "component").select(
            "id", "component", (F.col("id") == F.col("__win")).alias("kept"))

    if docs is None:
        return resolved
    singletons = (
        docs.select(F.col(id_column).alias("id")).distinct()
        .join(resolved.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("component"), F.lit(True).alias("kept"))
    )
    return resolved.unionByName(singletons)
