"""Per-query phase profiler for the optimization rounds.

For each declared query, separately times the BUILD phase (the
QUERIES[name] call — where eager training collects and py4j-heavy
expression construction live) and the ACTION phase (noop-sink
execution of the returned plan), and counts the Spark jobs each
phase launched (via a per-query job group; every table is loaded
once before the first query, so the schema-inference job of a
table's first read is charged to no query). A query whose time is
mostly build-phase or whose job count is high is overhead-bound, not
data-bound — a different fix family (guide §1.2 step 2) than a slow
stage.

Usage: python tools/query_profile.py [sf_dir] [query ...]
Prints one JSON line per query plus a sorted summary to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    only = set(a for a in args if not os.path.isdir(a))

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from check_oracle import TABLES
    from conveyor_spark.queries import QUERIES, load_table
    from conveyor_spark.session import get_spark

    if unknown := sorted(only - set(QUERIES)):
        print(f"query_profile: unknown queries {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="conveyor-query-profile")
    sc = spark.sparkContext
    # the first load_table of a table infers its parquet schema with
    # a job; load every table once here, outside every job group, so
    # no query's build count depends on which queries ran before it
    for t in TABLES:
        load_table(spark, sf_dir, t)

    rows = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            sc.setJobGroup(f"{name}-build", f"{name} build")
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            jobs_build = len(sc.statusTracker().getJobIdsForGroup(f"{name}-build"))
            sc.setJobGroup(f"{name}-action", f"{name} action")
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
            jobs_action = len(sc.statusTracker().getJobIdsForGroup(f"{name}-action"))
            rec = {
                "query": name,
                "build_s": round(t1 - t0, 3),
                "action_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3),
                "jobs_build": jobs_build,
                "jobs_action": jobs_action,
            }
        except Exception as exc:  # noqa: BLE001
            rec = {"query": name, "error": f"{type(exc).__name__}: {str(exc)[:160]}"}
        finally:
            try:
                spark.catalog.clearCache()
            except Exception:  # noqa: BLE001
                pass
        rows.append(rec)
        print(json.dumps(rec), flush=True)

    ok = [r for r in rows if "error" not in r]
    ok.sort(key=lambda r: -r["total_s"])
    print("\n-- slowest (total build+action, jobs b/a) --", file=sys.stderr)
    for r in ok[:30]:
        print(
            f"{r['total_s']:7.3f}  build={r['build_s']:6.3f} "
            f"action={r['action_s']:6.3f}  jobs={r['jobs_build']}/"
            f"{r['jobs_action']}  {r['query']}",
            file=sys.stderr,
        )
    tb = sum(r["build_s"] for r in ok)
    ta = sum(r["action_s"] for r in ok)
    print(f"-- totals: build {tb:.1f}s action {ta:.1f}s --", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
