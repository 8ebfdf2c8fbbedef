"""Interleaved A/B for the q161 knn.lsh verify='pq' persists (r14;
VERDICT r13 #1). Variants toggle the two self-kNN persists inside ONE
process by filtering ctx.persist on its caller:

  A  = ship (banded-signature persist + _pq_screen code persist)
  B  = neither (the r12 shape)
  C  = codes only
  D  = banded only

Each round runs every variant once (bench methodology: noop sink,
cache cleared + RDDs unpersisted between runs). Usage:
    python tools/ab_q161.py [rounds] [query ...]
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from conveyor_spark.registry import OpContext  # noqa: E402

_SKIP: set[str] = set()
_orig_persist = OpContext.persist


def _filtered_persist(self, df):
    if sys._getframe(1).f_code.co_name in _SKIP:
        return df
    return _orig_persist(self, df)


OpContext.persist = _filtered_persist

VARIANTS = {
    "A:both": set(),
    "B:neither": {"knn_lsh", "_pq_screen"},
    "C:codes-only": {"knn_lsh"},
    "D:banded-only": {"_pq_screen"},
}


def main() -> int:
    args = sys.argv[1:]
    rounds = int(args[0]) if args and args[0].isdigit() else 3
    queries = [a for a in args if not a.isdigit()] or [
        "q161_knn_lsh_pq_verify"]

    from conveyor_spark.queries import QUERIES
    from conveyor_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab-q161")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    def run_once(qname: str) -> float:
        t0 = time.time()
        df = QUERIES[qname](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        elapsed = time.time() - t0
        spark.catalog.clearCache()
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)
        gc.collect()
        return elapsed

    results: dict[str, dict[str, list[float]]] = {
        q: {v: [] for v in VARIANTS} for q in queries}
    for rnd in range(rounds):
        for vname, skip in VARIANTS.items():
            _SKIP.clear()
            _SKIP.update(skip)
            for q in queries:
                sec = run_once(q)
                results[q][vname].append(round(sec, 3))
                print(f"round {rnd} {vname:14s} {q}: {sec:.3f}s",
                      flush=True)
    print()
    for q in queries:
        for vname in VARIANTS:
            ts = results[q][vname]
            print(f"{q} {vname:14s} runs={ts} min={min(ts):.3f} "
                  f"med={sorted(ts)[len(ts)//2]:.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
