"""One fresh benchmark process: start a session, run passes, report.

Started by run.py with one argument, the path of a JSON config. It
writes its result JSON to ``config["result_path"]``. Roles:

- ``probe``: session start only (one more setup_s sample);
- ``main``: session start, the cold first pass, then at least
  ``warm_passes`` warm passes and at least ``seconds`` of them; every
  member's output is hashed for the oracle check outside the timed
  region.

Everything is timed from outside the package, by wrapping the calls
a user makes: ``get_spark``, ``QUERIES[name](spark, dir)`` (the
build) and the sink call. With ``trace`` on, the build and sink are
tagged with job groups, spans are kept in memory, and the Spark UI
REST API is read once at the end for stage and SQL metrics.
"""

from __future__ import annotations

import gc
import json
import os
import random
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import vmhwm_mb  # noqa: E402
from workloads import DISTINCT_CHECKED  # noqa: E402

WARM_CAP_S = 100.0  # hard stop for the warm loop, well inside a run's budget


class Spans:
    """In-memory span log: (name, start, end, parent, run id)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        self.items.append({"id": len(self.items), "name": name, "start": start,
                           "end": end, "parent": parent, "run_id": self.run_id})
        return len(self.items) - 1


def progress_summary(progress: list) -> list[dict]:
    """Per-micro-batch fields from a drain's recentProgress."""
    out = []
    for p in progress:  # StreamingQueryProgress is a dict
        d = p.get("durationMs") or {}
        ops = p.get("stateOperators") or []
        out.append({
            "input_rows": p.get("numInputRows") or 0,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
            "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
            "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
            "rows_evicted": sum(o.get("numRowsRemoved", 0) for o in ops),
        })
    return out


def main(config_path: str) -> int:
    with open(config_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["repo"])
    sys.path.insert(0, os.path.join(cfg["repo"], "tools"))
    os.environ["TZ"] = "UTC"
    time.tzset()

    spans = Spans(cfg["run_id"])
    trace = cfg["trace"]
    from conveyor_spark.queries import QUERIES
    from conveyor_spark.registry import OpContext, get_function
    from conveyor_spark.session import get_spark
    from conveyor_spark.streaming.ops import RECENT_PROGRESS

    spark = get_spark(app_name=f"perfbench-{cfg['workload']}", extra_conf=cfg["conf"])
    spark.range(1).count()
    ready_at = time.time()
    root = spans.add("session.start", cfg["spawn_at"], ready_at)
    # the oracle tooling (it imports duckdb) is the benchmark's, not
    # part of the session start
    from check_oracle import frame_hash
    sc = spark.sparkContext
    jvm = spark._jvm
    if cfg["role"] == "probe":
        with open(cfg["result_path"], "w") as f:
            json.dump({"ready_at": ready_at}, f)
        spark.stop()
        return 0
    parquet_write = get_function("parquet.write").fn

    def sink(name: str, df) -> None:
        if cfg["sink"] == "parquet":
            path = os.path.join(cfg["out_dir"], name)
            parquet_write(OpContext(spark=spark), [df], {"path": path, "mode": "overwrite"})
        else:
            df.write.mode("overwrite").format("noop").save()

    def cleanup() -> None:
        # benchmark hygiene, outside every timed region: drop cached
        # plans and persisted RDDs a member left behind (see bench.py)
        spark.catalog.clearCache()
        for jrdd in list(sc._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)
        gc.collect()

    def source_dir(name: str) -> str:
        return cfg["stream_dir"] if name in cfg["chunked"] else cfg["data_dir"]

    def output_hash(name: str, df) -> dict:
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        chk = {"cols": cols, "rows": len(rows), "hash": frame_hash(cols, rows)}
        if name in DISTINCT_CHECKED:
            distinct = list(set(rows))
            chk["distinct_rows"] = len(distinct)
            chk["distinct_hash"] = frame_hash(cols, distinct)
        return chk

    checks: dict[str, dict] = {}

    def run_member(name: str, pass_idx: int, parent: int, check: bool) -> dict:
        rec: dict = {"member": name, "pass": pass_idx}
        group = f"p{pass_idx}:{name}"
        RECENT_PROGRESS.clear()
        try:
            if trace:
                sc.setJobGroup(f"{group}:build", f"{name} build")
            w0, t0 = time.time(), time.perf_counter()
            df = QUERIES[name](spark, source_dir(name))
            t1, w1 = time.perf_counter(), time.time()
            if trace:
                sc.setJobGroup(f"{group}:sink", f"{name} sink")
            w2, t2 = time.time(), time.perf_counter()
            sink(name, df)
            t3, w3 = time.perf_counter(), time.time()
            rec.update(build_s=t1 - t0, sink_s=t3 - t2, window=(w0, w3))
            if trace:
                rec["persist_left"] = sc._jsc.getPersistentRDDs().size()
                spans.add(f"build:{name}", w0, w1, parent)
                spans.add(f"sink:{name}", w2, w3, parent)
            rec["batches"] = progress_summary(
                [p for ps in RECENT_PROGRESS.values() for p in ps])
            if check:
                # untimed, before cleanup: what the member persisted
                # (or a drain's memory table) is still there to read
                checks[name] = output_hash(name, df)
                spans.add(f"check:{name}", w3, time.time(), parent)
        except Exception as exc:  # noqa: BLE001 — counted as a failure
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        finally:
            if trace:
                sc.setJobGroup("perfbench", "bookkeeping")
            cleanup()
        return rec

    def run_pass(pass_idx: int, check: bool = False) -> list[dict]:
        order = list(cfg["members"])
        # the cold pass keeps the listed order: whichever member runs
        # first pays the one-off costs (Python worker spawn, the first
        # stream), so a shuffled cold pass moves cost between members
        if pass_idx > 0:
            random.Random(f"{cfg['seed']}:{pass_idx}").shuffle(order)
        start = time.time()
        pid = spans.add(f"pass:{pass_idx}", start, start, root)
        recs = [run_member(m, pass_idx, pid, check) for m in order]
        spans.items[pid]["end"] = time.time()
        return recs

    def warm_done(n_warm: int, elapsed: float) -> bool:
        return n_warm >= cfg["warm_passes"] and elapsed >= cfg["seconds"]

    t_pass = time.perf_counter()
    records = run_pass(0)
    last_pass_s = time.perf_counter() - t_pass
    t_warm = time.perf_counter()
    n_warm = 0
    while True:
        # the pass predicted to be the last one also hashes the outputs
        # of noop sinks; a parquet sink is read back after the loop
        final = warm_done(n_warm + 1, time.perf_counter() - t_warm + last_pass_s)
        t_pass = time.perf_counter()
        n_warm += 1
        records += run_pass(n_warm, check=final and cfg["sink"] == "noop")
        last_pass_s = time.perf_counter() - t_pass
        elapsed = time.perf_counter() - t_warm
        if elapsed >= WARM_CAP_S or warm_done(n_warm, elapsed):
            break

    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        peak_rss_mb = vmhwm_mb(f.read())

    result = {
        "ready_at": ready_at, "records": records, "peak_rss_mb": peak_rss_mb,
        "env": {
            "nproc": len(os.sched_getaffinity(0)), "spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "jvm_max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
            "master": sc.master,
        },
    }
    if trace:
        from ledger import collect_rest
        result["rest"] = collect_rest(spark)

    for name in cfg["members"]:
        if name in checks:
            continue
        w0 = time.time()
        try:
            if cfg["sink"] == "parquet":
                df = spark.read.parquet(os.path.join(cfg["out_dir"], name))
            else:
                df = QUERIES[name](spark, source_dir(name))
            checks[name] = output_hash(name, df)
        except Exception as exc:  # noqa: BLE001 — reported as a mismatch
            checks[name] = {"error": f"{type(exc).__name__}: {str(exc)[:300]}"}
        finally:
            cleanup()
        spans.add(f"check:{name}", w0, time.time(), root)
    result["checks"] = checks
    result["spans"] = spans.items

    result["done_at"] = time.time()
    with open(cfg["result_path"], "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1]))
    except Exception:  # noqa: BLE001 — the coordinator reads the exit code
        traceback.print_exc()
        sys.exit(1)
