"""Per-layer ledger of a traced run.

`collect_rest` runs in the worker, once, after the timed passes: it
reads jobs, stages and SQL executions from the Spark UI REST API.
Everything else is pure and runs in the coordinator: it attributes
jobs to the member whose build or sink ran them (job groups for the
calling thread; the member's wall-clock window for the jobs a stream
thread runs), and sums stages, Python SQL metrics and streaming
progress per member and per pass.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from datetime import datetime, timezone
from statistics import median

MB = 2**20
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "inputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_ROWS = "number of output rows"

PER_LAYER = {  # metric -> unit
    "session.start_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "sink.s": "s",
    "sink.jobs": "count",
    "sink.output_mb": "MB",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_disk_mb": "MB",
    "spark.spill_mem_mb": "MB",
    "python.mb_sent": "MB",
    "python.mb_received": "MB",
    "python.rows_received": "count",
    "persist.left": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.state_commit_ms": "ms",
    "streaming.rows_evicted": "count",
    "trace.pass_s": "s",
}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def rest_time(s: str | None) -> float | None:
    """'2026-01-02T03:04:05.678GMT' -> epoch seconds."""
    if not s:
        return None
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def parse_metric(value: str) -> float:
    """A SQL metric value as the REST API renders it: '1,234',
    '12.5 MiB', or 'total (min, med, max ...)\\n12.5 MiB (...)'."""
    text = value.split("\n", 1)[1] if value.startswith("total") and "\n" in value else value
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2) or "B", 1)


def collect_rest(spark) -> dict:
    """Jobs, stage attempts and the Python-node SQL metrics of every
    SQL execution, trimmed to what the ledger uses."""
    sc = spark.sparkContext
    try:  # let the status store see every finished job first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001
        time.sleep(2.0)
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = [{"id": j["jobId"], "group": j.get("jobGroup"),
             "submitted": rest_time(j.get("submissionTime")),
             "stages": j.get("stageIds", [])} for j in _get(f"{base}/jobs")]
    stages = [{"id": s["stageId"], "status": s["status"],
               **{k: s.get(k, 0) for k in _STAGE_FIELDS}}
              for s in _get(f"{base}/stages")]
    sql = []
    for e in _get(f"{base}/sql?details=true&planDescription=false&offset=0&length=1000000"):
        sent = received = rows = 0.0
        for node in e.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if PY_SENT in metrics:
                sent += parse_metric(metrics[PY_SENT])
                received += parse_metric(metrics.get(PY_RECEIVED, "0"))
                rows += parse_metric(metrics.get(PY_ROWS, "0"))
        sql.append({"jobs": e.get("successJobIds", []) + e.get("failedJobIds", [])
                    + e.get("runningJobIds", []),
                    "py_sent": sent, "py_received": received, "py_rows": rows})
    return {"jobs": jobs, "stages": stages, "sql": sql}


def member_ledger(records: list[dict], rest: dict, output_bytes: dict[str, float]) -> list[dict]:
    """One ledger row per (pass, member): build/sink time and jobs,
    stage totals, Python bytes, persisted RDDs left and streaming
    progress. ``output_bytes`` maps a member to its sink output size."""
    stage_by_id: dict[int, list[dict]] = {}
    for s in rest["stages"]:
        if s["status"] != "SKIPPED":
            stage_by_id.setdefault(s["id"], []).append(s)
    rows = []
    for r in records:
        if "error" in r:
            continue
        lo, hi = r["window"]
        lo, hi = lo - 0.002, hi + 0.002  # REST times are millisecond-rounded
        group = f"p{r['pass']}:{r['member']}"
        jobs = [j for j in rest["jobs"]
                if j["group"] in (f"{group}:build", f"{group}:sink")
                or (j["submitted"] is not None and lo <= j["submitted"] <= hi)]
        job_ids = {j["id"] for j in jobs}
        stage_ids = {sid for j in jobs for sid in j["stages"]}
        st = [a for sid in stage_ids for a in stage_by_id.get(sid, [])]
        execs = [e for e in rest["sql"] if job_ids & set(e["jobs"])]
        b = r.get("batches") or []
        rows.append({
            "member": r["member"], "pass": r["pass"],
            "build_s": r["build_s"], "action_s": r["sink_s"],
            "jobs_build": sum(j["group"] == f"{group}:build" for j in jobs),
            "jobs_action": sum(j["group"] == f"{group}:sink" for j in jobs),
            "jobs_other": sum(j["group"] not in (f"{group}:build", f"{group}:sink")
                              for j in jobs),
            "output_mb": output_bytes.get(r["member"], 0.0) / MB,
            "stages": len(st),
            "tasks": sum(a["numTasks"] for a in st),
            "failed_tasks": sum(a["numFailedTasks"] for a in st),
            "task_run_s": sum(a["executorRunTime"] for a in st) / 1e3,
            "task_cpu_s": sum(a["executorCpuTime"] for a in st) / 1e9,
            "gc_s": sum(a["jvmGcTime"] for a in st) / 1e3,
            "input_mb": sum(a["inputBytes"] for a in st) / MB,
            "shuffle_read_mb": sum(a["shuffleReadBytes"] for a in st) / MB,
            "shuffle_write_mb": sum(a["shuffleWriteBytes"] for a in st) / MB,
            "spill_disk_mb": sum(a["diskBytesSpilled"] for a in st) / MB,
            "spill_mem_mb": sum(a["memoryBytesSpilled"] for a in st) / MB,
            "python_mb_sent": sum(e["py_sent"] for e in execs) / MB,
            "python_mb_received": sum(e["py_received"] for e in execs) / MB,
            "python_rows_received": sum(e["py_rows"] for e in execs),
            "persist_left": r.get("persist_left", 0),
            "batches": len(b),
            "trigger_ms": sum(x["trigger_ms"] for x in b),
            "input_rows": sum(x["input_rows"] for x in b),
            "add_batch_ms": sum(x["add_batch_ms"] for x in b),
            "planning_ms": sum(x["planning_ms"] for x in b),
            "wal_commit_ms": sum(x["wal_commit_ms"] for x in b),
            "state_rows": max((x["state_rows"] for x in b), default=0),
            "state_mb": max((x["state_bytes"] for x in b), default=0) / MB,
            "state_commit_ms": sum(x["state_commit_ms"] for x in b),
            "rows_evicted": sum(x["rows_evicted"] for x in b),
        })
    return rows


def per_layer(ledger: list[dict], session_start_s: float) -> dict[str, float]:
    """Per-layer metrics: each is summed over the members of a warm
    pass, then the median over warm passes is reported; trace.pass_s
    sums each member's fastest traced warm run, as pass_s does untraced."""
    passes = sorted({row["pass"] for row in ledger if row["pass"] > 0})
    sums = {
        "build.s": "build_s", "build.jobs": "jobs_build", "sink.s": "action_s",
        "sink.jobs": "jobs_action", "sink.output_mb": "output_mb",
        "spark.stages": "stages", "spark.tasks": "tasks",
        "spark.failed_tasks": "failed_tasks", "spark.task_run_s": "task_run_s",
        "spark.task_cpu_s": "task_cpu_s", "spark.gc_s": "gc_s",
        "spark.input_mb": "input_mb", "spark.shuffle_read_mb": "shuffle_read_mb",
        "spark.shuffle_write_mb": "shuffle_write_mb",
        "spark.spill_disk_mb": "spill_disk_mb", "spark.spill_mem_mb": "spill_mem_mb",
        "python.mb_sent": "python_mb_sent", "python.mb_received": "python_mb_received",
        "python.rows_received": "python_rows_received", "persist.left": "persist_left",
        "streaming.batches": "batches", "streaming.input_rows": "input_rows",
        "streaming.trigger_ms": "trigger_ms",
        "streaming.add_batch_ms": "add_batch_ms", "streaming.planning_ms": "planning_ms",
        "streaming.wal_commit_ms": "wal_commit_ms", "streaming.state_rows": "state_rows",
        "streaming.state_mb": "state_mb", "streaming.state_commit_ms": "state_commit_ms",
        "streaming.rows_evicted": "rows_evicted",
    }
    out: dict[str, float] = {"session.start_s": session_start_s}
    for metric, field in sums.items():
        out[metric] = median([sum(r[field] for r in ledger if r["pass"] == p)
                              for p in passes])
    fastest: dict[str, float] = {}
    for r in ledger:
        if r["pass"] > 0:
            t = r["build_s"] + r["action_s"]
            fastest[r["member"]] = min(t, fastest.get(r["member"], t))
    out["trace.pass_s"] = sum(fastest.values())
    return {k: out[k] for k in PER_LAYER}
