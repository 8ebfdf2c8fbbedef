"""SparkSession factory with scale-oriented defaults.

Defaults target correctness on local[N] test runs while keeping the
settings we would ship on a 1000-executor cluster reading ~100 TB:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for any Python exchange, explicit shuffle
partition count, and UTC session time so results are
timezone-stable against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """The local[N] core count, which also sets the shuffle partition
    count: ``SPARK_GRAFT_CPUS``, else the cores this process may run
    on. On a real cluster shuffle partitions should be ~2-3x total
    cores (or left to AQE's coalescing with a high initial number);
    locally, a fixed count larger than the host fans every
    ``widen``-ed Python stage out to more tasks than cores."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    if not raw.strip().isdigit() or int(raw) < 1:
        raise ValueError(
            f"SPARK_GRAFT_CPUS={raw!r}: must be a positive integer")
    return int(raw)


def _topology_conf(master: str) -> dict[str, str]:
    """Confs that depend on the execution topology.

    Multi-JVM masters (local-cluster / standalone spark://) launch
    executors whose Python workers run from the executor WORK DIR,
    not the repo checkout — found by the round-11 cluster probe:
    local[N] masks the missing import path because its in-process
    workers inherit the driver's cwd. The package is run from a
    source checkout (not pip-installed), so executor workers need the
    repo root on PYTHONPATH explicitly. Executor memory likewise only
    matters off-local: the master string sizes the WORKER, but each
    executor still defaults to 1g unless spark.executor.memory says
    otherwise."""
    conf: dict[str, str] = {}
    if exec_mem := os.environ.get("SPARK_GRAFT_EXECUTOR_MEM"):
        conf["spark.executor.memory"] = exec_mem
    if master.startswith(("local-cluster", "spark://")):
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        existing = os.environ.get("PYTHONPATH", "")
        conf["spark.executorEnv.PYTHONPATH"] = (
            f"{repo_root}:{existing}" if existing else repo_root
        )
    return conf


def get_spark(
    app_name: str = "conveyor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters mirror what a deployment would override; everything
    else is a considered default for large-scale batch + streaming.
    """
    cpus = local_cpus()
    # SPARK_GRAFT_MASTER lets the whole harness (oracle checker,
    # probes, bench) run unchanged under a different execution
    # topology — e.g. local-cluster[2,16,4096] for multi-JVM
    # serialization coverage that local[N]'s shared JVM can't give.
    env_master = os.environ.get("SPARK_GRAFT_MASTER")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or env_master or f"local[{cpus}]")
        # --- query execution ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Ops persist() their multiply-consumed decision tables (r13
        # optimization round: ks_test's spine, MI's term-class counts,
        # ...). Without this, a cached plan pins its pre-AQE shuffle
        # partitioning and every downstream stage inherits the static
        # partition count — coalescing/skew handling must stay live
        # above InMemoryRelation (measured: q135 5.1s -> 2.5s).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or cpus))
        # Broadcast small dims automatically; explicit broadcast()
        # hints are still used for known-small tables.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- python exchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # SPARK_GRAFT_ARROW_BATCH: invariance probes shrink this to
        # force many batch boundaries through every mapInPandas op —
        # results must not depend on where Arrow splits the stream
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"),
        )
        # --- determinism / oracle stability ---
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: vectorized reader + pushdown are on by
        # default; keep files splittable at 128m.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Read TIMESTAMP(NANOS) parquet as long (Spark has no ns
        # timestamp type); loaders convert ns -> timestamp_micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive (isAdjustedToUTC=false) parquet timestamps must read
        # as TIMESTAMP (LTZ, session tz UTC), not TIMESTAMP_NTZ:
        # NTZ breaks watermarks/unix-time casts and diverges from the
        # DuckDB oracle's naive-as-UTC semantics.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # catalog tables (bucketed writes) need a warehouse location;
        # static conf — must be set before the session exists
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/conveyor-warehouse"),
        )
        # quieter local runs
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in _topology_conf(master or env_master or "").items():
        builder = builder.config(k, v)
    # SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2": invariance probes toggle
    # execution strategies (codegen off, broadcast off, ...) across a
    # whole harness run without threading a parameter through every
    # tool. Explicit extra_conf still wins (applied after).
    if env_extra := os.environ.get("SPARK_GRAFT_EXTRA_CONF"):
        for pair in env_extra.split(";"):
            if "=" in pair:
                k, _, v = pair.partition("=")
                builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:
        pass  # Spark-Connect client: no SparkContext on the client
    return spark
