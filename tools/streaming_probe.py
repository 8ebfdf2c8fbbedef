"""Streaming scale probe (round 10, VERDICT r9 item 7).

The stateful streaming ops have crash-consistency proofs
(tests/test_streaming_recovery.py) but until this round no SCALE
evidence — the 100 TB claim was test-scale only. This probe Zipf-
replicates the events table (hot users keep their user_id; each copy
shifts event-time by one hour so sessions/windows/join-windows
multiply ~linearly while per-key state grows with the copy count)
and drains the four stateful streaming queries at scale under BOTH
state-store providers, asserting:

  1. zero errors;
  2. output hash-exact vs the query's own DuckDB batch oracle over
     the SAME probe data (the strongest available check — the exact
     comparison the driver runs at gate scale, now at 16x Zipf);
  3. HDFS-backed and RocksDB providers produce identical hashes
     (provider equivalence at scale);
  4. state-operator metrics recorded from the final
     StreamingQueryProgress (state rows, state memory, batch count)
     with a sanity bound: state rows must be positive for stateful
     plans and state memory must stay under --max-state-mb.

Queries: q63 session windows (applyInPandasWithState), q66
stream-stream interval join, q95 streaming funnel, q103 sliding
count windows, q154 watermark-bounded streaming dedup — every
stateful streaming op in the registry.

Usage: python tools/streaming_probe.py [--scale 16] [--out JSON]
Exit 0 = all assertions hold; 1 = violation (named on stderr).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

STREAMING_SET = ["q63_stream_session_window", "q66_stream_join",
                 "q95_stream_funnel",
                 "q103_stream_sliding_count_window",
                 "q154_stream_dedup"]

# query name -> the run_available_now drain name it uses (the key
# RECENT_PROGRESS records under)
DRAIN_NAMES = {
    "q63_stream_session_window": "q63_sessions",
    "q66_stream_join": "q66_stream_join",
    "q95_stream_funnel": "q95_stream_funnel",
    "q103_stream_sliding_count_window": "q103_sliding_windows",
    "q154_stream_dedup": "q154_dedup",
}

# Ops whose state is EVICTED by the watermark as it advances:
# dropDuplicatesWithinWatermark drops a key's entry once the
# watermark passes its event time, so after a full drain the final
# progress legitimately reports few or ZERO retained rows — that is
# the bounded-state property working, not a missing state store.
# Correctness for these is carried by the oracle hash + provider
# equivalence; the positive-state-rows check does not apply.
WATERMARK_EVICTING = {"q154_stream_dedup"}

PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state."
               "RocksDBStateStoreProvider",
}


def build_events_probe(spark, sf_dir: str, out_dir: str, scale: int,
                       alpha: float, cap: int) -> int:
    """Zipf-replicated events: copy c of an event keeps its user_id
    (hot keys) and shifts ts by c hours (sessions and 30-min join
    windows stay disjoint per copy, so output grows ~linearly while
    per-key state volume grows with the cluster size); event_id is
    re-keyed unique."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from scale_probe import zipf_expr

    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    n = df.count()
    ranked = df.withColumn(
        "__r", F.row_number().over(Window.orderBy("event_id"))
    ).withColumn("__copies", F.expr(zipf_expr(n, scale, alpha, cap)))
    k = cap + 1
    exploded = (
        ranked.withColumn("__c", F.explode(F.expr("sequence(1, __copies)")))
        .withColumn("event_id", F.col("event_id") * k + F.col("__c"))
        .withColumn(
            "ts",
            F.expr("ts + make_interval(0, 0, 0, 0, __c - 1, 0, 0)"),
        )
    )
    # the streaming queries read via pathGlobFilter='events.parquet',
    # which matches a FILE of that name (the testdata layout) — write
    # a single part and move it into place
    tmp = os.path.join(out_dir, "__events_build")
    out = exploded.drop("__r", "__copies", "__c").coalesce(1)
    out.write.mode("overwrite").parquet(tmp)
    part = next(p for p in os.listdir(tmp)
                if p.startswith("part-") and p.endswith(".parquet"))
    shutil.move(os.path.join(tmp, part),
                os.path.join(out_dir, "events.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(os.path.join(out_dir, "events.parquet")).count()


def state_metrics(progress: dict) -> dict:
    ops = progress.get("stateOperators") or []
    return {
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_memory_mb": round(
            sum(o.get("memoryUsedBytes", 0) for o in ops) / 2**20, 2),
        "state_operators": len(ops),
        "batch_id": progress.get("batchId"),
    }


def main() -> int:
    # pin the hash-comparison basis to UTC (see check_oracle.py:
    # PySpark collect() renders timestamps through the PROCESS tz)
    os.environ["TZ"] = "UTC"
    time.tzset()

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--scale", type=int, default=16)
    ap.add_argument("--alpha", type=float, default=1.1)
    ap.add_argument("--max-cluster", type=int, default=256)
    ap.add_argument("--max-state-mb", type=float, default=2048.0)
    ap.add_argument("--queries", nargs="*", default=STREAMING_SET,
                    help="subset of the streaming set (knob reruns)")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    sys.path.insert(0, os.path.join(repo, "tools"))
    import duckdb

    import __spark_entry__ as entry
    from check_oracle import frame_hash
    from conveyor_spark.queries import QUERIES
    from conveyor_spark.session import get_spark
    from conveyor_spark.streaming.ops import RECENT_PROGRESS

    spark = get_spark(app_name="conveyor-streaming-probe",
                      shuffle_partitions=32)
    probe_dir = tempfile.mkdtemp(prefix="streaming_probe_")
    # non-replicated tables pass through (the streaming set only
    # reads events, but load_table may touch others)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"):
        src = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(probe_dir, f"{t}.parquet"))

    oracles = entry.oracle_sql()
    result: dict = {
        "sf_dir": args.sf_dir, "scale": args.scale, "alpha": args.alpha,
        "max_cluster": args.max_cluster, "queries": {},
    }
    violations: list[str] = []
    prior_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None)
    try:
        t0 = time.time()
        result["events_rows"] = build_events_probe(
            spark, args.sf_dir, probe_dir, args.scale, args.alpha,
            args.max_cluster)
        result["build_sec"] = round(time.time() - t0, 1)

        con = duckdb.connect()
        con.execute("SET threads TO 16")
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{probe_dir}/events.parquet')")

        for name in args.queries:
            qrec: dict = {}
            result["queries"][name] = qrec
            # oracle once per query (provider-independent)
            try:
                cur = con.execute(oracles[name])
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
                ohash = frame_hash(ocols, orows)
                qrec["oracle_rows"] = len(orows)
            except Exception as exc:  # noqa: BLE001
                violations.append(f"{name}: oracle error {exc}")
                continue
            hashes: dict[str, str] = {}
            for prov, cls in PROVIDERS.items():
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", cls)
                if prov == "rocksdb":
                    spark.conf.set(
                        "spark.sql.streaming.stateStore.rocksdb."
                        "changelogCheckpointing.enabled", "true")
                # clear the hook first: a failed run must not inherit
                # the PREVIOUS provider's progress (stale metrics in
                # the artifact would look like a real measurement)
                RECENT_PROGRESS.pop(DRAIN_NAMES[name], None)
                t0 = time.time()
                try:
                    df = QUERIES[name](spark, probe_dir)
                    cols = df.columns
                    rows = [tuple(r) for r in df.collect()]
                    err = None
                except Exception as exc:  # noqa: BLE001
                    rows, cols = [], []
                    err = f"{type(exc).__name__}: {str(exc)[:200]}"
                sec = round(time.time() - t0, 2)
                prec = {"sec": sec, "rows": len(rows), "error": err}
                qrec[prov] = prec
                if err:
                    violations.append(f"{name}[{prov}]: ERROR {err}")
                    continue
                progs = RECENT_PROGRESS.get(DRAIN_NAMES[name])
                if progs is None:
                    # drain-name drift would otherwise silently void
                    # the state assertions (state_operators==0
                    # short-circuits the zero-rows check)
                    violations.append(
                        f"{name}[{prov}]: no progress recorded under "
                        f"drain name {DRAIN_NAMES[name]!r}")
                prog = progs[-1] if progs else {}
                sm = state_metrics(prog)
                prec.update(sm)
                h = frame_hash(cols, rows)
                hashes[prov] = h
                prec["hash_match_oracle"] = (
                    h == ohash and sorted(cols) == sorted(ocols)
                    and len(rows) == len(orows))
                if not prec["hash_match_oracle"]:
                    violations.append(
                        f"{name}[{prov}]: hash/rows mismatch vs oracle "
                        f"(rows {len(rows)} vs {len(orows)})")
                if (sm["state_operators"] > 0 and sm["state_rows"] <= 0
                        and name not in WATERMARK_EVICTING):
                    violations.append(
                        f"{name}[{prov}]: stateful plan reported zero "
                        "state rows")
                if sm["state_memory_mb"] > args.max_state_mb:
                    violations.append(
                        f"{name}[{prov}]: state memory "
                        f"{sm['state_memory_mb']} MB > cap "
                        f"{args.max_state_mb}")
                print(f"  {name}[{prov}]: {sec}s rows={len(rows)} "
                      f"stateRows={sm['state_rows']} "
                      f"stateMem={sm['state_memory_mb']}MB "
                      + ("OK" if prec.get("hash_match_oracle") else "FAIL"))
            if len(hashes) == 2 and len(set(hashes.values())) != 1:
                violations.append(
                    f"{name}: providers disagree: {hashes}")
    finally:
        if prior_provider is None:
            try:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass")
            except Exception:  # noqa: BLE001
                pass
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                prior_provider)
        shutil.rmtree(probe_dir, ignore_errors=True)

    result["violations"] = violations
    result["pass"] = not violations
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    print(json.dumps({k: result[k] for k in
                      ("scale", "events_rows", "pass", "violations")}))
    if violations:
        for v in violations:
            print(f"VIOLATION: {v}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
