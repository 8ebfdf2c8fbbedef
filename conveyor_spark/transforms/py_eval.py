"""py.eval — per-row scripted UDF (the engine's js.eval equivalent).

Reference: plugins-wasm/conveyor-plugin-js-wasm/src/lib.rs:61-72,
160-188 — user script defines ``transform(row)``, executed per row in
a sandboxed Boa JS engine, JSON row in/out (row dropped when the
script returns null).

Our UDF story is Python (the reference's is JS because its host is
Rust): the ``script`` must define ``transform(row: dict) -> dict |
None``. Execution is Arrow-batched ``mapInPandas`` — the script is
compiled ONCE per partition, then applied row-wise; returning None
drops the row (filter semantics, like the reference), and returned
dicts must match ``output_schema`` (DDL string; defaults to the input
schema).

This is the slow path by design — a script that only does arithmetic
or string ops belongs in map.apply (full Spark SQL, JVM-side).

SECURITY: by default (``trusted = true``) the script runs as
UNSANDBOXED Python (``exec``) inside executor workers, with the full
privileges of the Spark job — treat such a TOML exactly like a Python
file. For semi-trusted specs set ``trusted = false``: the script then
runs in a per-partition subprocess locked down with OS rlimits (no
fork/exec, no new file descriptors — so no sockets/files/processes —
plus CPU and memory ceilings) and a stripped-builtins namespace with
an import whitelist (see py_sandbox.py for the exact containment
model and its limits vs the reference's WASM sandbox). Sandboxed rows
cross a JSON boundary, so columns must be JSON-representable —
arithmetic/string/collection transforms, not binary or timestamp
surgery.

``engine = 'ast'`` is the third mode and the closest analogue of the
reference's WASM sandbox: the script is INTERPRETED by the embedded
micro-interpreter in py_ast.py rather than executed by CPython, so
host access is impossible by construction (no import/exec/getattr
nodes exist, dunder attributes are rejected at parse time, loops burn
a per-row step budget). With ``trusted = true`` (default) it runs
in-process — no subprocess hop, no JSON boundary — at the cost of a
restricted language surface. Combine ``engine = 'ast'`` with
``trusted = false`` for DEFENSE IN DEPTH: the interpreter itself runs
inside the rlimited subprocess, so even a hypothetical interpreter
escape lands in a process with no fork/exec, no file descriptors, and
CPU/memory ceilings — two independent containment layers, the
strongest mode this engine offers.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register


def _sandbox_partition(batches, script, out_columns, cfg, pd):
    """Drive one sandbox subprocess for a partition: handshake, then
    one JSON request/response round-trip per Arrow batch. Runs inside
    the executor's Python worker (see py_sandbox.py for the child's
    containment model)."""
    import json
    import subprocess
    import sys

    proc = subprocess.Popen(
        [sys.executable, "-m", "conveyor_spark.transforms.py_sandbox"],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )

    def read_reply() -> dict:
        line = proc.stdout.readline()
        if not line:
            rc = proc.wait()
            raise RuntimeError(
                f"py.eval sandbox died (exit {rc}) — CPU/memory limit hit "
                "or the interpreter crashed"
            )
        reply = json.loads(line)
        if "error" in reply:
            proc.kill()
            raise RuntimeError(f"py.eval sandbox: {reply['error']}")
        return reply

    def send(obj: dict) -> None:
        # the child can die (rlimit CPU/memory kill) while we are
        # mid-write: surface the same diagnostic the read side gives
        # instead of a raw BrokenPipeError
        try:
            proc.stdin.write(json.dumps(obj) + "\n")
            proc.stdin.flush()
        except (BrokenPipeError, OSError):
            rc = proc.wait()
            raise RuntimeError(
                f"py.eval sandbox died (exit {rc}) — CPU/memory limit hit "
                "or the interpreter crashed"
            )

    try:
        send({
            "script": script,
            "columns": out_columns,
            "engine": cfg.get("engine", "exec"),
            "step_budget": cfg.get("step_budget"),
            "cpu_seconds": cfg["cpu_seconds"],
            "memory_mb": cfg["memory_mb"],
            "modules": cfg["modules"],
        })
        read_reply()  # ready
        for pdf in batches:
            # to_json/loads converts numpy scalars to plain JSON types
            rows = json.loads(pdf.to_json(orient="records"))
            send({"rows": rows})
            reply = read_reply()
            yield pd.DataFrame(
                [[r.get(c) for c in out_columns] for r in reply["rows"]],
                columns=out_columns,
            )
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()


def _stateless_module_body(script: str) -> bool:
    """True when re-executing the script's module body per group can
    never change results — the condition for safely sharing one
    exec'd namespace across a task's groups. Conservative: the body
    must be only imports and plain ``def``s, with no ``global``
    statements anywhere (a function can create module state through
    one) and no non-constant parameter defaults (a mutable default is
    per-exec state shared across calls). Anything else — assignments,
    classes, decorators, conditional defs — falls back to
    fresh-namespace-per-group."""
    import ast as _ast

    try:
        tree = _ast.parse(script)
    except SyntaxError:
        return False  # compile() will raise the real diagnostic
    for node in tree.body:
        if isinstance(node, (_ast.Import, _ast.ImportFrom)):
            continue
        if isinstance(node, _ast.FunctionDef) and not node.decorator_list:
            args = node.args
            defaults = list(args.defaults) + [
                d for d in args.kw_defaults if d is not None
            ]
            if all(isinstance(d, _ast.Constant) for d in defaults):
                continue
        return False
    def_names = {b.name for b in tree.body if isinstance(b, _ast.FunctionDef)}
    # reflection builtins reach the namespace/function internals past
    # any syntactic analysis
    reflective = {"setattr", "delattr", "getattr", "vars", "globals",
                  "locals", "eval", "exec", "attrgetter", "import_module",
                  "__import__",
                  # frame introspection reaches the exec namespace with
                  # no dunder and no reflective builtin:
                  # sys._getframe().f_globals, inspect.currentframe(),
                  # sys.exc_info()[2].tb_frame, generator .gi_frame /
                  # coroutine .cr_frame / async-gen .ag_frame. Treat
                  # the accessor names AND the frame-object attributes
                  # as disqualifying wherever they appear (attr, name,
                  # import alias, or string constant) — a false reject
                  # only costs the share-namespace optimization.
                  "_getframe", "currentframe", "exc_info",
                  "f_globals", "f_locals", "f_back", "tb_frame",
                  "gi_frame", "cr_frame", "ag_frame"}
    for n in _ast.walk(tree):
        if isinstance(n, (_ast.Global, _ast.Nonlocal)):
            return False
        # from-imports can REBIND a reflective callable to any local
        # name ('from builtins import getattr as g'), after which
        # name-based detection is blind — disqualify importing any
        # reflective name (whatever the alias), and star-imports
        # (which bind everything invisibly)
        if isinstance(n, _ast.ImportFrom):
            for alias in n.names:
                if alias.name == "*" or alias.name in reflective:
                    return False
        if isinstance(n, _ast.Attribute):
            # any attribute STORE/DEL could be mutating a shared
            # function object through an alias (t = transform; t.x = 1
            # makes t a local, so name-based analysis can't see it)
            if not isinstance(n.ctx, _ast.Load):
                return False
            # attribute access ON a module-level def reaches its
            # mutable __dict__ even in Load position
            # (transform.__dict__[...])
            if isinstance(n.value, _ast.Name) and n.value.id in def_names:
                return False
            # dunder attributes reach shared mutable internals through
            # ANY value expression — (lambda: 0).__globals__ is the
            # exec namespace itself, an alias's t.__globals__ likewise,
            # and the value node can be arbitrarily indirect. Reject
            # every dunder regardless of what it hangs off.
            if n.attr.startswith("__"):
                return False
            # reflective builtins reached as attributes slip the
            # Name check (import builtins; builtins.getattr(...);
            # operator.attrgetter)
            if n.attr in reflective:
                return False
        if isinstance(n, _ast.Name) and n.id in reflective:
            return False
        # reflection by STRING: operator.attrgetter('__globals__'),
        # getattr-like helpers taking the attribute as data — any
        # dunder or reflective-name string constant disqualifies
        # (legitimately stateless scripts processing such strings as
        # data just fall back to fresh-namespace-per-group)
        if isinstance(n, _ast.Constant) and isinstance(n.value, str):
            v = n.value
            if (v.startswith("__") and v.endswith("__")) or v in reflective:
                return False
    return True


def _sandboxed_map(df, script, out_columns, out_schema, config, extra=None):
    """mapInPandas through the rlimited sandbox subprocess — shared by
    engine='subprocess' and the untrusted-ast mode (``extra`` adds the
    ast header fields; the child ignores ``modules`` for ast)."""
    sandbox_cfg = {
        "cpu_seconds": int(config.get("sandbox_cpu_seconds", 30)),
        "memory_mb": int(config.get("sandbox_memory_mb", 512)),
        "modules": config.get("sandbox_modules"),
        **(extra or {}),
    }

    def run_sandboxed(batches: Iterator) -> Iterator:
        import pandas as pd

        yield from _sandbox_partition(batches, script, out_columns, sandbox_cfg, pd)

    return df.mapInPandas(run_sandboxed, out_schema)


@register(
    "py.eval", kind="transform", doc="Per-row scripted transform(row) UDF",
    params=[
        P("script", required=True,
          desc="Python source defining transform(row) -> dict|None"),
        P("output_schema", desc="DDL schema of the result (default: input schema)"),
        P("trusted", "boolean", default=True,
          desc="false: run the script in an rlimit-sandboxed subprocess "
               "(no processes/fds/network, CPU+memory capped, import whitelist)"),
        P("engine", default="auto", allowed=("auto", "exec", "subprocess", "ast"),
          desc="auto = exec when trusted, subprocess when not; 'ast' runs "
               "the embedded micro-interpreter (py_ast.py) — sandboxed by "
               "construction like the reference's WASM engine; with "
               "trusted=false the interpreter itself runs inside the "
               "rlimited subprocess (defense in depth)"),
        P("step_budget", "integer", default=1000000, min=1000,
          desc="engine='ast': interpreter steps allowed per row"),
        P("widen", "any", default="auto",
          desc="Spread narrow scans: auto, false, or a partition count"),
        P("sandbox_cpu_seconds", "integer", default=30, min=1,
          desc="CPU ceiling per sandbox subprocess (trusted=false)"),
        P("sandbox_memory_mb", "integer", default=512, min=16,
          desc="Address-space ceiling per sandbox subprocess (trusted=false)"),
        P("sandbox_modules", "array",
          desc="Import whitelist override for the sandbox (trusted=false); "
               "default: pure-computation stdlib modules"),
    ],
    example={"script": "def transform(row):\n    row['flag'] = row['x'] > 0\n    return row",
             "output_schema": "x INT, flag BOOLEAN"},
    tags=["udf", "scripting"],
)
def py_eval(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    script = config.get("script")
    schema_ddl = config.get("output_schema")
    if schema_ddl:
        out_schema = T._parse_datatype_string(schema_ddl)
    else:
        out_schema = df.schema
    out_columns = [f.name for f in out_schema.fields]
    # scripted per-row UDFs are the canonical CPU-heavy narrow-scan
    # case: a single-file scan arrives as ONE partition and would
    # serialize the whole interpreted stage onto one core
    from conveyor_spark.datapipe.dedup import widen

    df = widen(ctx, df, config)
    trusted = config.get("trusted", True)
    engine = config.get("engine", "auto")
    if engine == "auto":
        engine = "exec" if trusted else "subprocess"
    if engine not in ("exec", "subprocess", "ast"):
        # without this a typo'd engine would silently run sandboxed
        raise ConfigError(
            f"py.eval: unknown engine {engine!r} (auto|exec|subprocess|ast)"
        )
    if engine == "exec" and not trusted:
        raise ConfigError(
            "py.eval: engine='exec' runs unsandboxed — it cannot be "
            "combined with trusted=false (use 'ast' or 'subprocess')"
        )

    if engine == "ast":
        from conveyor_spark.transforms.py_ast import (
            make_transform, referenced_columns, validate_script,
        )

        tree = validate_script(script)  # driver-side fail-fast
        step_budget = int(config.get("step_budget", 1_000_000))
        # scripted-UDF column pruning: Catalyst cannot prune through
        # a mapInPandas barrier, but the AST is statically analyzable
        # — ship only the columns the script can read plus the
        # output-schema columns (`return row` passthrough). On a
        # wide 100 TB corpus this is the difference between scanning
        # 2 columns and scanning 40.
        cols = referenced_columns(tree)
        if cols is not None:
            keep = [c for c in df.columns if c in cols or c in out_columns]
            if not keep:
                keep = df.columns[:1]  # constant-only script: row count
            if len(keep) < len(df.columns):
                df = df.select(*keep)

        if not trusted:
            # DEFENSE IN DEPTH: interpret the AST *inside* the
            # rlimited subprocess. Two independent layers — the
            # micro-interpreter has no import/exec/getattr by
            # construction, and even an interpreter bug lands in a
            # process with NPROC=0/NOFILE=0 and CPU+memory ceilings.
            # The closest this engine gets to the reference's
            # WASM-in-a-host boundary; rows cross the sandbox's JSON
            # boundary like engine='subprocess'.
            return _sandboxed_map(
                df, script, out_columns, out_schema, config,
                extra={"engine": "ast", "step_budget": step_budget},
            )

        def run_ast(batches: Iterator) -> Iterator:
            import pandas as pd

            transform = make_transform(script, step_budget=step_budget)
            for pdf in batches:
                out_rows = []
                for row in pdf.to_dict("records"):
                    result = transform(row)
                    if result is None:
                        continue
                    out_rows.append([result.get(c) for c in out_columns])
                yield pd.DataFrame(out_rows, columns=out_columns)

        return df.mapInPandas(run_ast, out_schema)

    # compile on the driver first so syntax errors fail fast; probe-exec
    # the script only when it is declared trusted
    compiled = compile(script, "<py.eval>", "exec")
    if engine == "exec":
        probe: dict[str, Any] = {}
        exec(compiled, probe)  # noqa: S102
        if not callable(probe.get("transform")):
            raise ConfigError("py.eval script must define transform(row)")
    else:
        return _sandboxed_map(df, script, out_columns, out_schema, config)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        ns: dict[str, Any] = {}
        exec(compile(script, "<py.eval>", "exec"), ns)  # noqa: S102 — once per partition
        transform = ns["transform"]
        for pdf in batches:
            out_rows = []
            for row in pdf.to_dict("records"):
                result = transform(row)
                if result is None:
                    continue  # null return drops the row (reference parity)
                out_rows.append([result.get(c) for c in out_columns])
            yield pd.DataFrame(out_rows, columns=out_columns)

    return df.mapInPandas(run, out_schema)


@register(
    "py.group_eval", kind="transform", doc="Per-group scripted transform(key, pdf) UDF",
    params=[
        P("script", required=True,
          desc="Python source defining transform(key, pdf) -> pandas.DataFrame"),
        P("group_by", "array", required=True, desc="Grouping column(s)"),
        P("output_schema", desc="DDL schema of the result (default: input schema)"),
        P("parallelism", "integer", min=0,
          desc="Shuffle width for the grouped apply (default: "
               "max(cluster default parallelism, "
               "spark.sql.shuffle.partitions); 0 = leave it to AQE)"),
    ],
    example={"script": "def transform(key, pdf):\n    return pdf.head(1)",
             "group_by": ["user_id"]},
    tags=["udf", "scripting"],
)
def py_group_eval(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Grouped-map variant (``applyInPandas``): the script defines
    ``transform(key: tuple, pdf: pandas.DataFrame) -> pandas.DataFrame``
    and runs once per group with the group's full frame — the shape
    for per-group normalization, resampling, or model scoring. One
    shuffle on the group keys; each group must fit in one worker's
    memory (use finer keys for huge groups)."""
    df = inputs[0]
    script = config.get("script")
    group_by = config.get("group_by")
    keys = [group_by] if isinstance(group_by, str) else list(group_by)
    schema_ddl = config.get("output_schema")
    # same default as py.eval: scripts that keep the input shape
    # (filtering/capping groups) need no explicit schema
    out_schema = T._parse_datatype_string(schema_ddl) if schema_ddl else df.schema

    compiled = compile(script, "<py.group_eval>", "exec")
    probe: dict[str, Any] = {}
    exec(compiled, probe)  # noqa: S102
    if not callable(probe.get("transform")):
        raise ConfigError("py.group_eval script must define transform(key, pdf)")

    # Pin the grouped-apply shuffle width: this stage's cost is
    # per-group PYTHON calls, not bytes, and AQE's byte-based
    # partition coalescing sees a few MB of tiny groups and merges
    # the stage down to 1-2 tasks — serializing 15k script calls onto
    # 2 cores (measured 20 s vs 1.3 s at 32 tasks). An explicit
    # repartition(n, keys) satisfies applyInPandas's clustered
    # distribution (no second shuffle) and AQE respects
    # user-specified partition counts. parallelism=0 opts back into
    # AQE for byte-heavy groups.
    n_parts = config.get("parallelism")
    if n_parts is None:
        # default to max(cluster parallelism, shuffle.partitions):
        # never NARROWER than what the user's shuffle config would
        # have given a byte-heavy shuffle (a small-core cluster's
        # defaultParallelism alone could shrink a 500 GB grouped
        # apply into a handful of spilling partitions), and never
        # coalesced below the core count for tiny-bytes inputs
        try:
            n_parts = ctx.spark.sparkContext.defaultParallelism
        except Exception:  # Spark Connect: no SparkContext handle
            n_parts = 0
        try:
            n_parts = max(
                int(n_parts),
                int(ctx.spark.conf.get("spark.sql.shuffle.partitions")),
            )
        except Exception:  # "auto", or backend conf lookup failure —
            pass           # the defaultParallelism value stands
    if int(n_parts) > 0:
        df = df.repartition(int(n_parts), *keys)

    # compile ONCE per task, but exec the code object into a FRESH
    # namespace per group by default: a shared namespace would leak
    # mutable module-level state across groups (partitioning-
    # dependent results for stateful scripts — semantics must not
    # change). When the module body is PROVABLY stateless, the exec'd
    # namespace is cached too, so expensive module-level setup
    # (compiled regex tables, lookup dicts) runs once per task
    # instead of once per group.
    share_ns = _stateless_module_body(script)
    cell: dict[str, Any] = {}

    def run(key, pdf):
        code = cell.get("code")
        if code is None:
            code = cell["code"] = compile(script, "<py.group_eval>", "exec")
        if share_ns:
            ns = cell.get("ns")
            if ns is None:
                ns = cell["ns"] = {}
                exec(code, ns)  # noqa: S102 — once per task, stateless body
            return ns["transform"](key, pdf)
        ns: dict[str, Any] = {}
        exec(code, ns)  # noqa: S102 — fresh namespace per group
        return ns["transform"](key, pdf)

    return df.groupBy(*keys).applyInPandas(run, out_schema)
