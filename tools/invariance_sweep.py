"""Eight-axis invariance sweep, as a committed tool (r13).

r11 introduced the sweep and r12 re-ran it, but the axis recipes
(env knobs + the multifile/shuffled data prep) lived only in NOTES —
this tool pins them. Each axis re-runs the FULL oracle suite
(tools/check_oracle.py, every queries()/oracle_sql() pair) in a
fresh subprocess JVM under one perturbation; results are written to
CORRECTNESS_<tag>_<axis>.json. The correctness claim under test:
values are invariant to partition count, Arrow batch size, host
timezone, codegen, broadcast planning, ANSI mode, file layout, and
row order.

Axes:
  part7       local[7] + 7 shuffle partitions
  arrow64     Arrow batch size 64 (~156x more batch boundaries
              through every mapInPandas op)
  tz          host TZ=Asia/Tokyo (the harness pins its own hash
              basis to UTC; the ENGINE must not care)
  nocodegen   whole-stage codegen off + interpreted expressions
  nobroadcast autoBroadcastJoinThreshold=-1 (forced SMJ)
  ansioff     spark.sql.ansi.enabled=false (Spark 4 defaults it on;
              the engine's own division/overflow guards must make
              results identical in either mode)
  multifile   every table re-written as a 4-file DIRECTORY via
              DuckDB (preserves TIMESTAMP_NS — a pyspark rewrite
              produces NTZ timestamps, r11's documented trap)
  shuffled    row-permuted inputs (ORDER BY hash(rowid + 42)),
              single file per table

Usage:
    python tools/invariance_sweep.py [--sf-dir /root/testdata/sf0.001]
        [--tag r13] [--axes part7 arrow64 ...]
Exit 0 = every axis suite passes ("0 fail" in its output).
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

AXES = {
    "part7": {"SPARK_GRAFT_CPUS": "7",
              "SPARK_GRAFT_EXTRA_CONF": "spark.sql.shuffle.partitions=7"},
    "arrow64": {"SPARK_GRAFT_EXTRA_CONF":
                "spark.sql.execution.arrow.maxRecordsPerBatch=64"},
    "tz": {"TZ": "Asia/Tokyo"},
    "nocodegen": {"SPARK_GRAFT_EXTRA_CONF":
                  "spark.sql.codegen.wholeStage=false;"
                  "spark.sql.codegen.factoryMode=NO_CODEGEN"},
    "nobroadcast": {"SPARK_GRAFT_EXTRA_CONF":
                    "spark.sql.autoBroadcastJoinThreshold=-1"},
    # ANSI OFF (Spark 4 defaults it on): every division/overflow
    # guard in the engine must make results mode-independent — the
    # suite's values may depend on neither ANSI's errors nor
    # legacy's silent NULLs (8th axis, r13)
    "ansioff": {"SPARK_GRAFT_EXTRA_CONF": "spark.sql.ansi.enabled=false"},
    "multifile": {},   # data prep instead of env
    "shuffled": {},
}


def rewrite(sf_dir: str, out_dir: str, mode: str) -> None:
    """DuckDB-rewrite every table: 'multifile' splits into 4 files
    under a <table>.parquet/ DIRECTORY; 'shuffled' permutes rows
    (seed-stable hash order) into a single file. DuckDB preserves
    TIMESTAMP_NS through the round-trip."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        glob = f"{src}/*.parquet" if os.path.isdir(src) else src
        con.execute(f"CREATE OR REPLACE TABLE __t AS "
                    f"SELECT * FROM read_parquet('{glob}')")
        if mode == "multifile":
            d = os.path.join(out_dir, f"{t}.parquet")
            os.makedirs(d)
            for i in range(4):
                con.execute(
                    f"COPY (SELECT * FROM __t WHERE rowid % 4 = {i}) "
                    f"TO '{d}/part-{i:02d}.parquet' (FORMAT PARQUET)")
        else:
            con.execute(
                "COPY (SELECT * FROM __t ORDER BY hash(rowid + 42)) "
                f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")
    con.close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--axes", nargs="*", default=list(AXES))
    args = ap.parse_args()

    failures = []
    for axis in args.axes:
        env = dict(os.environ)
        env.update(AXES[axis])
        out = os.path.join(REPO, f"CORRECTNESS_{args.tag}_{axis}.json")
        env["SPARK_GRAFT_ORACLE_OUT"] = out
        sf_dir, tmp = args.sf_dir, None
        try:
            if axis in ("multifile", "shuffled"):
                tmp = tempfile.mkdtemp(prefix=f"inv_{axis}_")
                rewrite(args.sf_dir, tmp, axis)
                sf_dir = tmp
            r = subprocess.run(
                [sys.executable, os.path.join(REPO, "tools",
                                              "check_oracle.py"), sf_dir],
                env=env, capture_output=True, text=True)
            tail = (r.stdout or "").strip().splitlines()
            summary = next((ln for ln in reversed(tail)
                            if "pass" in ln and "fail" in ln), "???")
            ok = r.returncode == 0 and ", 0 fail" in summary
            print(f"{'PASS' if ok else 'FAIL'} {axis}: {summary}")
            if not ok:
                failures.append(axis)
                print((r.stdout or "")[-2000:])
                print((r.stderr or "")[-2000:], file=sys.stderr)
            elif os.path.exists(out):
                with open(out) as f:
                    n = len(json.load(f).get("queries", {}))
                print(f"  -> {os.path.basename(out)} ({n} queries)")
        finally:
            if tmp:
                shutil.rmtree(tmp, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
