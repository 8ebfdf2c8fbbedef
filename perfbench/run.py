"""conveyor_spark benchmark: three workloads of QUERIES members.

    python3 perfbench/run.py --workload relational|datapipe|streaming \\
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root. A run reads the engine's test tables at
sf0.01 (sf0.001 with ``--smoke``) from ``perfbench/data/``, computes
every member's DuckDB oracle, then starts fresh worker processes one
after another (worker.py). Each one times its own session start
(setup_s is their median); the last one then times a cold first pass
and warm passes for at least ``--seconds``, and hashes every member's
output for the oracle check, outside the timed region.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (setup_s, pass_s, peak_rss_mb);
with ``--trace 1`` the session runs with the UI REST API on and the metrics are the per-layer ledger
(ledger.PER_LAYER), and a per-member side artifact is written under
``.perfbench/out/``. The line before it records the host (nproc, Spark
and Java versions, JVM max heap) and the seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = os.path.join(REPO, ".perfbench")
# The inputs are the same for every seed, as the engine's test tables
# are; --seed shuffles member order per warm pass and jitters the chunk
# boundaries of streamed inputs.
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
PROCESSES = 2  # fresh processes per run, each one setup_s sample
SMOKE_DATA_DIR = os.path.join(HERE, "data", "sf0.001")
RUN_BUDGET_S = 170.0
DRIVER_MEM = "2g"


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("relational", "datapipe", "streaming"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the warm-pass window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001, one process, a one-second window")
    args = ap.parse_args(argv)
    args.data_dir, args.processes = DATA_DIR, PROCESSES
    if args.smoke:
        args.data_dir, args.processes, args.seconds = SMOKE_DATA_DIR, 1, 1.0
    return args


def group_alive(pgid: int) -> bool:
    """True while any non-zombie process of the group is left."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait for the worker's process group (its JVM and Python
    workers) to end; terminate whatever outlives the grace period."""
    deadline = time.time() + grace_s
    while group_alive(pgid) and time.time() < deadline:
        time.sleep(0.05)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(1.0)


def oracle_results(data_dir: str, members: list[str], nproc: int) -> dict[str, dict]:
    import duckdb
    from check_oracle import TABLES, frame_hash
    from conveyor_spark.queries import ORACLES

    con = duckdb.connect()
    con.execute(f"SET threads TO {nproc}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    out = {}
    for name in members:
        cur = con.execute(ORACLES[name])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = {"cols": cols, "rows": len(rows), "hash": frame_hash(cols, rows)}
    con.close()
    return out


def check_member(name: str, chk: dict, orc: dict, n_events: int) -> str | None:
    """None when the member's output matches its oracle, else why not."""
    from workloads import DISTINCT_CHECKED

    if "error" in chk:
        return chk["error"]
    if sorted(chk["cols"]) != sorted(orc["cols"]):
        return f"columns {sorted(chk['cols'])} != {sorted(orc['cols'])}"
    if name in DISTINCT_CHECKED:
        if not orc["rows"] <= chk["rows"] <= n_events:
            return f"{chk['rows']} rows outside [{orc['rows']}, {n_events}]"
        if (chk["distinct_rows"], chk["distinct_hash"]) != (orc["rows"], orc["hash"]):
            return f"distinct rows {chk['distinct_rows']} != oracle {orc['rows']}"
        return None
    if chk["rows"] != orc["rows"]:
        return f"rows {chk['rows']} != oracle {orc['rows']}"
    if chk["hash"] != orc["hash"]:
        return "hash mismatch"
    return None


def dir_bytes(path: str) -> float:
    return float(sum(os.path.getsize(os.path.join(d, f))
                     for d, _, files in os.walk(path) for f in files))


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    t_run = time.time()
    if not (os.path.isdir(os.path.join(REPO, "conveyor_spark"))
            and os.path.isfile(os.path.join(REPO, "tools", "check_oracle.py"))
            and os.path.isdir(args.data_dir)):
        print("perfbench: run from a conveyor_spark checkout (conveyor_spark/, "
              "tools/check_oracle.py or perfbench/data/ not found)", file=sys.stderr)
        return 2
    for p in (HERE, os.path.join(REPO, "tools"), REPO):
        sys.path.insert(0, p)
    os.environ["TZ"] = "UTC"
    time.tzset()

    import chunking
    import pyarrow.parquet as pq
    from conveyor_spark.queries import ORACLES, QUERIES
    from ledger import PER_LAYER, member_ledger, per_layer
    from stats import percentile
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    members = list(wl.members)
    missing = [m for m in members if m not in QUERIES or m not in ORACLES]
    if missing:
        print(f"perfbench: members without a query or oracle: {missing}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    out_root = os.path.join(WORK_ROOT, "out")
    stream_dir = os.path.join(work, "stream")
    for d in ("tmp", "local", "ckpt", "warehouse", "out", "logs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_root, exist_ok=True)
    try:
        t0 = time.perf_counter()
        data_dir = args.data_dir
        events = pq.read_table(os.path.join(data_dir, "events.parquet"))
        if wl.chunked:
            chunking.chunk_events(events, stream_dir, wl.chunks, args.seed)
        t1 = time.perf_counter()
        oracles = oracle_results(data_dir, members, nproc)
        phases = {"data_s": t1 - t0, "oracle_s": time.perf_counter() - t1}

        env = dict(os.environ)
        env.update({
            "PYTHONPATH": os.pathsep.join(
                [REPO] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "CONVEYOR_SPARK_CKPT_DIR": os.path.join(work, "ckpt"),
            "TMPDIR": os.path.join(work, "tmp"),
            "TZ": "UTC",
        })
        if wl.chunked:
            env["SPARK_GRAFT_MAX_FILES_PER_TRIGGER"] = "1"
        conf = {"spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"}
        if args.trace:
            conf.update({
                "spark.ui.enabled": "true", "spark.ui.port": "0",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        roles = ["main"] if args.trace else ["probe"] * (args.processes - 1) + ["main"]
        results = []
        for i, role in enumerate(roles):
            cfg = {
                "repo": REPO, "workload": wl.name, "role": role, "trace": bool(args.trace),
                "members": members, "chunked": list(wl.chunked), "sink": wl.sink,
                "seed": args.seed, "seconds": args.seconds, "conf": conf,
                "warm_passes": wl.warm_passes,
                "data_dir": data_dir, "stream_dir": stream_dir,
                "out_dir": os.path.join(work, "out"),
                "result_path": os.path.join(work, f"result-{i}.json"),
                "run_id": f"{wl.name}-{args.seed}-{i}",
            }
            cfg_path = os.path.join(work, f"config-{i}.json")
            log_path = os.path.join(work, "logs", f"worker-{i}.log")
            with open(log_path, "w") as log:
                cfg["spawn_at"] = time.time()
                with open(cfg_path, "w") as f:
                    json.dump(cfg, f)
                proc = subprocess.Popen(
                    [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                    env=env, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                    start_new_session=True)
                try:
                    rc = proc.wait(timeout=max(1.0, RUN_BUDGET_S - (time.time() - t_run)))
                except subprocess.TimeoutExpired:
                    rc = None
                stop_group(proc.pid, grace_s=20.0 if rc is not None else 0.0)
                if rc is None:
                    proc.wait()
            if rc != 0:
                with open(log_path) as f:
                    tail = f.read()[-3000:]
                print(f"perfbench: worker {i} ({role}) "
                      f"{'timed out' if rc is None else f'exited {rc}'}\n{tail}",
                      file=sys.stderr)
                return 1
            with open(cfg["result_path"]) as f:
                res = json.load(f)
            res["setup_s"] = res["ready_at"] - cfg["spawn_at"]
            phases[f"worker{i}_s"] = time.time() - cfg["spawn_at"]
            if "done_at" in res:
                phases[f"worker{i}_stop_s"] = time.time() - res["done_at"]
            results.append(res)

        main_res = results[-1]
        runs = main_res["records"]
        errors = [f"{r['member']} (pass {r['pass']}): {r['error']}" for r in runs if "error" in r]
        mismatches = []
        for name in members:
            why = check_member(name, main_res["checks"][name], oracles[name], events.num_rows)
            if why:
                mismatches.append(f"{name}: {why}")
        for line in errors + mismatches:
            print(f"perfbench: FAIL {line}", file=sys.stderr)

        def pass_total(p: int) -> float:
            return sum(r["build_s"] + r["sink_s"] for r in runs
                       if r["pass"] == p and "error" not in r)

        n_passes = 1 + max(r["pass"] for r in runs)
        # member -> its latency in each pass (None where it failed)
        latency = {m: [None] * n_passes for m in members}
        for r in runs:
            if "error" not in r:
                latency[r["member"]][r["pass"]] = r["build_s"] + r["sink_s"]
        warm = {m: [x for x in lat[1:] if x is not None] for m, lat in latency.items()}
        warm_lat = [x for xs in warm.values() for x in xs]
        batch_ms = [b["trigger_ms"] for r in runs if r["pass"] > 0 and "error" not in r
                    for b in r["batches"]]
        summary = {
            "workload": wl.name, "seed": args.seed,
            "data": os.path.basename(data_dir),
            "members": members, "chunks": wl.chunks or None,
            "processes": len(results), "warm_passes": n_passes - 1,
            "member_pass_s": latency,
            **main_res["env"], "driver_mem": DRIVER_MEM,
            "query_p50_s": percentile(warm_lat, 50), "query_samples": len(warm_lat),
            "batch_p50_ms": percentile(batch_ms, 50), "batch_p90_ms": percentile(batch_ms, 90),
            "batch_samples": len(batch_ms),
            "phases_s": phases,
            "first_pass_s": pass_total(0),
            "warm_pass_s": [pass_total(p) for p in range(1, n_passes)],
        }
        untraced_path = os.path.join(
            out_root, f"run-{wl.name}-{summary['data']}-seed{args.seed}.json")
        if args.trace:
            output_bytes = {m: dir_bytes(os.path.join(work, "out", m))
                            for m in members if wl.sink == "parquet"}
            ledger = member_ledger(runs, main_res["rest"], output_bytes)
            metrics = per_layer(ledger, main_res["setup_s"])
            units = PER_LAYER
            # against the untraced run of the same workload, seed, data
            # and members, when one is in the out dir
            if os.path.exists(untraced_path):
                with open(untraced_path) as f:
                    untraced = json.load(f)
                if untraced["summary"]["members"] == members:
                    summary["trace_overhead_s"] = (
                        metrics["trace.pass_s"] - untraced["metrics"]["pass_s"])
            artifact = {"summary": summary, "per_layer": metrics, "ledger": ledger,
                        "spans": [s for res in results for s in res["spans"]]}
            trace_path = os.path.join(
                out_root, f"trace-{wl.name}-{summary['data']}-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump(artifact, f, indent=1)
        else:
            metrics = {
                "setup_s": median([res["setup_s"] for res in results]),
                # each member's fastest warm run, summed: warm runs still
                # speed up pass over pass (JIT), and a neighbour's load
                # only slows a run, in bursts shorter than a pass
                "pass_s": sum(min(xs) for xs in warm.values() if xs),
                "peak_rss_mb": main_res["peak_rss_mb"],
            }
            units = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
            with open(untraced_path, "w") as f:
                json.dump({"summary": summary, "metrics": metrics}, f, indent=1)

        attempted = len(runs) + len(members)
        failed = len(errors) + len(mismatches)
        print("perfbench-env " + json.dumps(summary))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
