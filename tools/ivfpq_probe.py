"""IVFPQ deployment probe: measure the cell-restriction cut (q163/
q164's scale claim) on a replicated corpus.

The claim knn.ivfpq exists for: flat knn.pq feeds every query ALL N
corpus codes — the ADC aggregate's input is N*Q*m rows — while the
IVF restriction cuts it to ~N*Q*m*nprobe/n_cells. This probe runs the
FULL deployment shape side by side on the same stamped corpus:

  1. TRAIN on the ORGANIC sf-dir embeddings (the 1%-sample doctrine):
     embedding.kmeans output='centroids' (the coarse quantizer) and
     embedding.pq output='codebooks'.
  2. STAMP the replicated corpus (build_probe's Zipf near-dup
     replication) with embedding.assign_cells + embedding.pq_encode,
     two Arrow passes over the vectors, written once to
     parquet so every search reads identical artifacts.
  3. SEARCH the same query set three ways: flat knn.pq (pretrained),
     knn.ivfpq nprobe=1, knn.ivfpq nprobe=NPROBE — recording wall,
     shuffle bytes, spill, the EXACT candidate-row counts (computed
     from the stamped cells + the op's own probe ranking), and the
     recall of each IVF run against the flat ADC ranking.

Assertions (exit 1 on violation):
  * every stage completes, zero disk spill on the search stages;
  * measured candidate rows = exactly n_corpus * nq for flat and the
    probed-cell sums for IVF (the cut is structural, not statistical);
  * ivfpq nprobe=NPROBE shuffle <= flat shuffle * (NPROBE/n_cells) *
    SLACK + FIXED_MB (the broadcast/table stages are scale-fixed);
  * recall(nprobe=NPROBE) >= recall(nprobe=1) (monotone dial).

Recall itself is RECORDED, not thresholded: on a Zipf near-dup corpus
the true neighbors of a replicated query concentrate in one cell, so
even nprobe=1 recall is high — the honest reading is the recorded
numbers plus the monotonicity check.

Usage:
    python tools/ivfpq_probe.py [--scale 256] [--cells 64]
        [--nprobe 8] [--nq 32] [--k 10] [--out JSON]
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

SLACK = 2.0       # compression/layout variance on the candidate stream
FIXED_MB = 32.0   # scale-fixed stages (distance tables, probe maps)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--scale", type=int, default=256)
    ap.add_argument("--alpha", type=float, default=1.1)
    ap.add_argument("--max-cluster", type=int, default=256)
    ap.add_argument("--cells", type=int, default=64)
    ap.add_argument("--nprobe", type=int, default=8)
    ap.add_argument("--nq", type=int, default=32)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from scale_probe import StageMetrics, build_probe

    from conveyor_spark.queries import QUERIES
    from conveyor_spark.registry import OpContext, get_function
    from conveyor_spark.session import get_spark

    def op(name, ctx, inputs, **config):
        return get_function(name).fn(ctx, inputs, config)

    n_shuffle = max(32, 8 * args.scale)
    spark = get_spark(app_name="conveyor-ivfpq-probe",
                      shuffle_partitions=n_shuffle,
                      extra_conf={"spark.ui.enabled": "true"})
    ctx = OpContext(spark=spark)
    probe_dir = tempfile.mkdtemp(prefix="ivfpq_probe_")
    result: dict = {
        "recipe": "train(organic) -> assign_cells+pq_encode gemm "
                  "stamp(replicated) -> knn.pq flat vs knn.ivfpq",
        "scale": args.scale, "alpha": args.alpha,
        "max_cluster": args.max_cluster,
        "cells": args.cells, "nprobe": args.nprobe,
        "nq": args.nq, "k": args.k,
        "shuffle_partitions": n_shuffle,
        "stages": {},
        "violations": [],
    }
    try:
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
        organic = spark.read.parquet(
            os.path.join(args.sf_dir, "embeddings.parquet"))
        emb = spark.read.parquet(os.path.join(probe_dir,
                                              "embeddings.parquet"))
        metrics = StageMetrics(spark)
        metrics.snapshot()

        def staged(name, fn):
            t0 = time.time()
            out = fn()
            m = metrics.snapshot()
            rec = {"sec": round(time.time() - t0, 2),
                   "shuffle_write_mb": m["shuffle_write_mb"],
                   "spilled_disk_mb": m["spilled_disk_mb"]}
            result["stages"][name] = rec
            print(f"  {name}: {rec}")
            return out

        # 1: train on the ORGANIC corpus (the sample)
        def train():
            cents = op("embedding.kmeans", ctx, [organic],
                       id_column="vec_id", column="embedding",
                       k=args.cells, iterations=2, dim=64,
                       output="centroids")
            books = op("embedding.pq", ctx, [organic],
                       id_column="vec_id", column="embedding",
                       m=4, k=16, iterations=1, dim=64,
                       output="codebooks")
            cents.cache().count()
            books.cache().count()
            return cents, books

        cents, books = staged("train_organic", train)

        # 2: stamp the replicated corpus (two gemm Arrow passes)
        def stamp():
            cells = op("embedding.assign_cells", ctx, [emb, cents],
                       column="embedding", output_column="ivf_cell")
            enc = op("embedding.pq_encode", ctx, [cells, books],
                     id_column="vec_id", column="embedding")
            path = os.path.join(probe_dir, "stamped.parquet")
            enc.write.parquet(path)
            return spark.read.parquet(path)

        enc = staged("stamp_gemm", stamp)
        n_corpus = enc.count()
        result["stamped_rows"] = n_corpus

        queries = organic.filter(f"vec_id < {args.nq}")
        nq = queries.count()

        # exact candidate accounting: per probed cell set, how many
        # corpus codes would each search scan
        from pyspark.sql import functions as F

        cell_sizes = {r["ivf_cell"]: r["n"] for r in
                      enc.groupBy("ivf_cell").agg(
                          F.count(F.lit(1)).alias("n")).collect()}
        cent_rows = cents.collect()
        cvecs = {r["cluster"]: [float(x) for x in r["centroid"]]
                 for r in cent_rows}
        qvecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
                 for r in queries.collect()}

        def probed(qv, nprobe):
            d = sorted(
                (sum((x - c) * (x - c) for x, c in zip(qv, cvecs[j])), j)
                for j in cvecs
            )
            return [j for _, j in d[:nprobe]]

        def expected_candidates(nprobe):
            return sum(
                sum(cell_sizes.get(j, 0) for j in probed(qv, nprobe))
                for qv in qvecs.values()
            )

        exp = {
            "flat": n_corpus * nq,
            "nprobe1": expected_candidates(1),
            f"nprobe{args.nprobe}": expected_candidates(args.nprobe),
        }
        result["expected_candidates"] = exp

        # 3: the three searches over the SAME stamped parquet. The
        # collect happens INSIDE the staged window — a lazy handle
        # would push the whole search's stage metrics into the next
        # stage's snapshot.
        def run_search(name, fn):
            rows = staged(name, lambda: fn().collect())
            return {(r[0], r[1]) for r in rows}, \
                {r[0] for r in rows}, len(rows)

        flat_pairs, _, n_flat = run_search(
            "search_flat_pq",
            lambda: op("knn.pq", ctx, [enc, queries, books],
                       id_column="vec_id", column="embedding",
                       code_column="pq_code", k=args.k))
        ivf1_pairs, _, _ = run_search(
            "search_ivfpq_nprobe1",
            lambda: op("knn.ivfpq", ctx, [enc, queries, cents, books],
                       id_column="vec_id", column="embedding",
                       cell_column="ivf_cell", code_column="pq_code",
                       k=args.k, nprobe=1))
        ivfN_pairs, _, _ = run_search(
            f"search_ivfpq_nprobe{args.nprobe}",
            lambda: op("knn.ivfpq", ctx, [enc, queries, cents, books],
                       id_column="vec_id", column="embedding",
                       cell_column="ivf_cell", code_column="pq_code",
                       k=args.k, nprobe=args.nprobe))

        # structural candidate assertion: re-run each search with
        # k = n_corpus (the top-k cut disabled) — the result rows ARE
        # the scored candidate pairs, and must equal the python-side
        # probed-cell accounting EXACTLY (a probe off-by-one or a
        # wrong-cell join would show up here even when recall and the
        # shuffle cap cannot see it)
        measured = {}
        measured["flat"] = op(
            "knn.pq", ctx, [enc, queries, books], id_column="vec_id",
            column="embedding", code_column="pq_code",
            k=n_corpus).count()
        for np_ in (1, args.nprobe):
            measured[f"nprobe{np_}"] = op(
                "knn.ivfpq", ctx, [enc, queries, cents, books],
                id_column="vec_id", column="embedding",
                cell_column="ivf_cell", code_column="pq_code",
                k=n_corpus, nprobe=np_).count()
        result["measured_candidates"] = measured
        for key, want in exp.items():
            if measured.get(key) != want:
                result["violations"].append(
                    f"candidate count {key}: measured {measured.get(key)}"
                    f" != expected {want} (the cut must be structural)")

        r1 = len(flat_pairs & ivf1_pairs) / max(1, len(flat_pairs))
        rN = len(flat_pairs & ivfN_pairs) / max(1, len(flat_pairs))
        result["recall_vs_flat"] = {"nprobe1": round(r1, 4),
                                    f"nprobe{args.nprobe}": round(rN, 4)}
        result["flat_result_rows"] = n_flat

        st = result["stages"]
        flat_mb = st["search_flat_pq"]["shuffle_write_mb"]
        ivf_mb = st[f"search_ivfpq_nprobe{args.nprobe}"]["shuffle_write_mb"]
        cut = args.nprobe / args.cells
        cap = flat_mb * cut * SLACK + FIXED_MB
        result["shuffle_cut"] = {
            "flat_mb": flat_mb, "ivfpq_mb": ivf_mb,
            "structural_cut": cut, "cap_mb": round(cap, 1),
            "measured_ratio": round(ivf_mb / flat_mb, 4) if flat_mb else None,
        }
        if ivf_mb > cap:
            result["violations"].append(
                f"ivfpq shuffle {ivf_mb} MB > cap {cap:.1f} MB "
                f"(flat {flat_mb} MB, structural cut {cut})")
        for name in ("search_flat_pq", "search_ivfpq_nprobe1",
                     f"search_ivfpq_nprobe{args.nprobe}"):
            if st[name]["spilled_disk_mb"] > 0:
                result["violations"].append(
                    f"{name} spilled {st[name]['spilled_disk_mb']} MB")
        if rN < r1 - 1e-9:
            result["violations"].append(
                f"recall not monotone in nprobe: {rN} < {r1}")
        result["pass"] = not result["violations"]
    finally:
        shutil.rmtree(probe_dir, ignore_errors=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    print(json.dumps({k: result.get(k) for k in
                      ("expected_candidates", "shuffle_cut",
                       "recall_vs_flat", "pass", "violations")}))
    return 0 if result.get("pass") else 1


if __name__ == "__main__":
    raise SystemExit(main())
