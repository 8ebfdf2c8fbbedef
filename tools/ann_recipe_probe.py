"""Collapse-then-ANN recipe probe (round 13, VERDICT r12 task 5).

PQ_RECALL_r12_x1024 measured identity recall 0.275 for knn.lsh
verify='pq' on the replicated Zipf corpus — low BY CONSTRUCTION
(near-dup cluster members share identical PQ codes, so the SDC
screen cannot order them; the exact path's own ordering there is
1e-4-noise ranking). The documented doctrine (the q160/q52 pattern)
is: COLLAPSE near-duplicates before ANN. This probe ships that
doctrine as an executable, measured recipe — pure op composition,
no custom logic:

  1. embedding.lsh (63-bit hyperplane signature, the engine's own
     signature op) — near-dup cluster members (~1e-4 vector noise)
     share the full signature unless a hyperplane dot sits inside
     the noise margin;
  2. dedup.exact on the signature (min-id-wins) — one representative
     per near-dup cluster, the "collapse exact dups in the first
     groupBy" step;
  3. knn.lsh verify='pq' AND verify='exact' over the SURVIVORS at
     the q152x 1024x configuration, side by side.

Measured claims (written to the artifact):
  * post-collapse identity recall — the doctrine predicts ~1.0:
    survivors carry distinct PQ codes, so the SDC screen ranks them
    exactly like the organic corpus (where identity recall is 1.0);
  * end-to-end wall and per-stage shuffle for the full recipe (the
    collapse is itself a zero-spill hash agg — its cost is recorded,
    not hidden);
  * the collapse ratio (replicated rows -> survivors), which bounds
    every downstream ANN cost by the ORGANIC corpus size.

Usage:
    python tools/ann_recipe_probe.py [--scale 1024] [--out JSON]
        [--sf-dir /root/testdata/sf0.1]
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

# the q152x 1024x ANN configuration (SCALE_PROBE_r12_x1024_pq)
ANN = dict(id_column="vec_id", k=3, dim=64, bits=60, bands=4,
           max_bucket=128)
PQ = dict(verify="pq", m=4, codewords=16, iterations=1, rerank=6)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--scale", type=int, default=1024)
    ap.add_argument("--alpha", type=float, default=1.1)
    ap.add_argument("--max-cluster", type=int, default=256)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from scale_probe import StageMetrics, build_probe

    from conveyor_spark.queries import QUERIES
    from conveyor_spark.registry import OpContext, get_function
    from conveyor_spark.session import get_spark

    def op(name, ctx, inputs, **config):
        return get_function(name).fn(ctx, inputs, config)

    n_shuffle = max(32, 8 * args.scale)
    spark = get_spark(app_name="conveyor-ann-recipe-probe",
                      shuffle_partitions=n_shuffle,
                      extra_conf={"spark.ui.enabled": "true"})
    ctx = OpContext(spark=spark)
    probe_dir = tempfile.mkdtemp(prefix="ann_recipe_probe_")
    result: dict = {
        "recipe": "embedding.lsh(63) -> dedup.exact(sig) -> "
                  "knn.lsh verify=pq|exact",
        "scale": args.scale, "alpha": args.alpha,
        "max_cluster": args.max_cluster,
        "shuffle_partitions": n_shuffle,
        "ann_config": {**ANN, **PQ},
        "stages": {},
    }
    try:
        # config-pinned host yardstick (see scale_probe.py: q01 under
        # this session's 8*scale shuffle partitions would measure the
        # partition count, not the host)
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        try:
            t0 = time.time()
            QUERIES["q01_pricing_summary"](spark, args.sf_dir).count()
            result["calibration"] = {"query": "q01_pricing_summary",
                                     "sec": round(time.time() - t0, 2),
                                     "shuffle_partitions": 32}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        t0 = time.time()
        result["rows"] = build_probe(spark, args.sf_dir, probe_dir,
                                     args.scale, args.alpha,
                                     args.max_cluster)
        result["build_sec"] = round(time.time() - t0, 1)
        emb = spark.read.parquet(os.path.join(probe_dir,
                                              "embeddings.parquet"))
        metrics = StageMetrics(spark)
        metrics.snapshot()

        def staged(name, df):
            t0 = time.time()
            n = df.count()
            m = metrics.snapshot()
            result["stages"][name] = {
                "sec": round(time.time() - t0, 2), "rows": n,
                "shuffle_write_mb": m["shuffle_write_mb"],
                "spilled_disk_mb": m["spilled_disk_mb"],
            }
            print(f"  {name}: {result['stages'][name]}")
            return n

        # 1+2: collapse — signature + exact dedup, one shuffle total
        sig = op("embedding.lsh", ctx, [emb], column="embedding",
                 bits=63, dim=64, output_column="__sig")
        collapsed = op("dedup.exact", ctx, [sig], columns=["__sig"],
                       id_column="vec_id").drop("__sig")
        # materialize survivors once so both ANN runs read the same
        # collapsed corpus from parquet (not recompute the collapse)
        surv_path = os.path.join(probe_dir, "collapsed.parquet")
        collapsed.repartition(32).write.parquet(surv_path)
        surv = spark.read.parquet(surv_path)
        n_surv = staged("collapse", surv)
        result["collapse"] = {
            "replicated_rows": result["rows"]["embeddings"],
            "survivors": n_surv,
            "ratio": round(result["rows"]["embeddings"] / n_surv, 2),
        }

        # 3: ANN on survivors, exact vs pq side by side
        exact = op("knn.lsh", ctx, [surv], **ANN, verify="exact")
        exact.cache()
        staged("knn_exact", exact)
        pq = op("knn.lsh", ctx, [surv], **ANN, **PQ)
        pq.cache()
        staged("knn_pq", pq)

        e_pairs = exact.selectExpr("query_id", "neighbor_id").distinct()
        p_pairs = pq.selectExpr("query_id", "neighbor_id").distinct()
        n_exact = e_pairs.count()
        n_common = e_pairs.intersect(p_pairs).count()
        result["post_collapse_identity_recall"] = round(
            n_common / n_exact, 4)
        result["exact_pairs"] = n_exact
        result["identity_common"] = n_common
        exact.unpersist()
        pq.unpersist()
        print(f"  identity recall post-collapse: "
              f"{result['post_collapse_identity_recall']} "
              f"({n_common}/{n_exact})")
        ok = result["post_collapse_identity_recall"] >= 0.99
        result["pass"] = bool(
            ok and all(s["spilled_disk_mb"] <= 10.0
                       for s in result["stages"].values()))
        if not ok:
            result["violation"] = (
                "post-collapse identity recall below the doctrine's "
                "~1.0 prediction")
    finally:
        shutil.rmtree(probe_dir, ignore_errors=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    print(json.dumps({k: result.get(k) for k in
                      ("collapse", "post_collapse_identity_recall",
                       "pass")}))
    return 0 if result.get("pass") else 1


if __name__ == "__main__":
    raise SystemExit(main())
