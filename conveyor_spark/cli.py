"""CLI: ``python -m conveyor_spark
run|validate|functions|scaffold|add-stage|edit|remove-stage|plugins``.

Mirrors the reference CLI verbs (src/main.rs:125-180): ``run`` a
pipeline TOML, ``validate`` it without executing, ``functions`` lists
the registry (reference: ``conveyor functions list``), ``scaffold``
emits a runnable starter TOML (src/cli/scaffold.rs), ``add-stage``
appends a validated stage block (src/cli/add_stage.rs), ``edit`` /
``remove-stage`` rewrite a stage in place (reference `edit` +
interactive_builder, flag-driven here so authoring works in
scripts/CI), ``plugins`` imports a spec's [global] plugin modules
and reports the ops each registers (reference `plugin list`,
src/plugin_loader.rs), and ``update`` checks the package index for a
newer release and upgrades via pip (reference `conveyor update`,
src/update.rs — binary-swap there, pip here). Every mutating verb
re-validates the spec and restores the original file if the result
would not parse.
"""

from __future__ import annotations

import argparse
import sys

from conveyor_spark.config.spec import load_spec
from conveyor_spark.errors import ConveyorError


def _apply_log_level(spark, level: str | None) -> None:
    if level:
        # reference levels map onto log4j's (trace/warn spellings differ)
        log4j = {"trace": "TRACE", "debug": "DEBUG", "info": "INFO",
                 "warn": "WARN", "error": "ERROR"}[level]
        try:
            spark.sparkContext.setLogLevel(log4j)
        except Exception:
            # Spark-Connect client: no SparkContext; server-side log
            # level isn't client-settable — degrade to a no-op.
            pass


def main(argv: list[str] | None = None) -> int:
    from conveyor_spark import __version__

    parser = argparse.ArgumentParser(prog="conveyor-spark")
    parser.add_argument("-V", "--version", action="version",
                        version=f"conveyor-spark {__version__}")
    parser.add_argument("-l", "--log-level", default=None,
                        choices=["trace", "debug", "info", "warn", "error"],
                        help="Spark log level (reference global flag)")
    sub = parser.add_subparsers(dest="cmd", required=True)
    p_run = sub.add_parser("run", help="run a pipeline TOML")
    p_run.add_argument("pipeline")
    p_run.add_argument("--master", default=None)
    p_run.add_argument("--dry-run", action="store_true",
                       help="compile the full plan but run no sink actions")
    p_val = sub.add_parser("validate", help="validate a pipeline TOML")
    p_val.add_argument("pipeline")
    p_fn = sub.add_parser("functions", help="list registered functions")
    p_fn.add_argument("module_type", nargs="?", default=None,
                      choices=["source", "transform", "sink"])
    p_ls = sub.add_parser("list", help="alias of functions (reference verb)")
    p_ls.add_argument("module_type", nargs="?", default=None,
                      choices=["source", "transform", "sink"])
    p_info = sub.add_parser("info", help="show a function's parameters and usage")
    p_info.add_argument("function")
    p_desc = sub.add_parser("describe", help="function metadata as JSON")
    p_desc.add_argument("function")
    p_sc = sub.add_parser("scaffold", help="write a runnable starter pipeline TOML")
    p_sc.add_argument("output", nargs="?", default="pipeline.toml")
    p_sc.add_argument("--name", default="my_pipeline")
    p_sc.add_argument("--description", default="A data processing pipeline")
    p_sc.add_argument("--force", action="store_true", help="overwrite an existing file")
    p_add = sub.add_parser("add-stage", help="append a stage to a pipeline TOML")
    p_add.add_argument("pipeline")
    p_add.add_argument("--id", required=True, dest="stage_id")
    p_add.add_argument("--function", required=True)
    p_add.add_argument("--input", action="append", default=[], dest="stage_inputs",
                       help="upstream stage id (repeatable)")
    p_add.add_argument("--config", action="append", default=[], dest="config_pairs",
                       metavar="KEY=VALUE", help="config entry (JSON value or bare string)")
    p_edit = sub.add_parser("edit", help="edit a stage's function/inputs/config in place")
    p_edit.add_argument("pipeline")
    p_edit.add_argument("--id", required=True, dest="stage_id")
    p_edit.add_argument("--function", default=None)
    p_edit.add_argument("--input", action="append", default=None, dest="stage_inputs",
                        help="replace inputs (repeatable; pass none to keep)")
    p_edit.add_argument("--set", action="append", default=[], dest="set_pairs",
                        metavar="KEY=VALUE", help="set a config entry")
    p_edit.add_argument("--unset", action="append", default=[], dest="unset_keys",
                        metavar="KEY", help="remove a config entry")
    p_rm = sub.add_parser("remove-stage", help="remove a stage from a pipeline TOML")
    p_rm.add_argument("pipeline")
    p_rm.add_argument("--id", required=True, dest="stage_id")
    p_pl = sub.add_parser("plugins", help="list a pipeline's plugin modules and their ops")
    p_pl.add_argument("pipeline")
    p_build = sub.add_parser("build", help="guided stage builder (prompts on stdin)")
    p_build.add_argument("pipeline")
    # reference verb group: stage new|add|edit|describe (src/main.rs:162-186)
    p_stage = sub.add_parser("stage", help="stage verbs: new/add/edit/describe")
    stage_sub = p_stage.add_subparsers(dest="stage_cmd", required=True)
    ps_new = stage_sub.add_parser("new", help="alias of scaffold")
    ps_new.add_argument("output", nargs="?", default="pipeline.toml")
    ps_new.add_argument("--name", default="my_pipeline")
    ps_new.add_argument("--description", default="A data processing pipeline")
    ps_new.add_argument("--force", action="store_true")
    ps_add = stage_sub.add_parser("add", help="guided add (alias of build)")
    ps_add.add_argument("pipeline")
    ps_desc = stage_sub.add_parser("describe", help="alias of describe")
    ps_desc.add_argument("function")
    p_plugin = sub.add_parser("plugin", help="registry verbs: search/info/add")
    plugin_sub = p_plugin.add_subparsers(dest="plugin_cmd", required=True)
    pp_search = plugin_sub.add_parser("search", help="search the plugin registry")
    pp_search.add_argument("query")
    pp_search.add_argument("--registry", default=None)
    pp_info = plugin_sub.add_parser("info", help="show a registry plugin")
    pp_info.add_argument("name")
    pp_info.add_argument("--registry", default=None)
    pp_add = plugin_sub.add_parser("add", help="wire a registry plugin into a pipeline")
    pp_add.add_argument("pipeline")
    pp_add.add_argument("name")
    pp_add.add_argument("--registry", default=None)
    p_up = sub.add_parser("update", help="self-update from the package index via pip")
    p_up.add_argument("--check", action="store_true",
                      help="only report whether a newer version exists")
    p_up.add_argument("--index-url", default=None,
                      help="alternate package index (PyPI JSON API layout)")
    p_ex = sub.add_parser("explain", help="print the physical plan(s) without running sinks")
    p_ex.add_argument("pipeline")
    p_ex.add_argument("--stage", default=None, help="explain one stage (default: sink inputs)")
    p_ex.add_argument("--mode", default="formatted",
                      choices=["simple", "extended", "formatted", "cost", "codegen"])
    args = parser.parse_args(argv)

    # resolve reference-verb aliases onto the canonical verbs
    if args.cmd == "stage":
        if args.stage_cmd == "new":
            args.cmd = "scaffold"
        elif args.stage_cmd == "add":
            args.cmd = "build"
        else:  # describe
            args.cmd = "describe"

    if args.cmd == "scaffold":
        from conveyor_spark.scaffold import scaffold_pipeline

        try:
            for p in scaffold_pipeline(args.output, args.name, args.description, args.force):
                print(f"wrote {p}")
        except ConveyorError as exc:
            print(f"scaffold failed: {exc}", file=sys.stderr)
            return 2
        print(f"run it: python -m conveyor_spark run {args.output}")
        return 0

    if args.cmd == "add-stage":
        from conveyor_spark.scaffold import add_stage

        try:
            add_stage(args.pipeline, args.stage_id, args.function,
                      args.stage_inputs, args.config_pairs)
        except ConveyorError as exc:
            print(f"add-stage failed: {exc}", file=sys.stderr)
            return 2
        print(f"added stage {args.stage_id!r} ({args.function}) to {args.pipeline}")
        return 0

    if args.cmd == "edit":
        from conveyor_spark.scaffold import edit_stage

        try:
            edit_stage(args.pipeline, args.stage_id, args.set_pairs,
                       args.unset_keys, args.stage_inputs, args.function)
        except ConveyorError as exc:
            print(f"edit failed: {exc}", file=sys.stderr)
            return 2
        print(f"edited stage {args.stage_id!r} in {args.pipeline}")
        return 0

    if args.cmd == "remove-stage":
        from conveyor_spark.scaffold import remove_stage

        try:
            remove_stage(args.pipeline, args.stage_id)
        except ConveyorError as exc:
            print(f"remove-stage failed: {exc}", file=sys.stderr)
            return 2
        print(f"removed stage {args.stage_id!r} from {args.pipeline}")
        return 0

    if args.cmd == "build":
        from conveyor_spark.builder import build_stage_into

        try:
            build_stage_into(args.pipeline, sys.stdin, sys.stdout)
        except ConveyorError as exc:
            print(f"build failed: {exc}", file=sys.stderr)
            return 2
        return 0

    if args.cmd == "plugin":
        from conveyor_spark.plugin_registry import add_plugin, plugin_info, search_plugins

        try:
            if args.plugin_cmd == "search":
                hits = search_plugins(args.query, args.registry)
                if not hits:
                    print("no plugins matched")
                for h in hits:
                    ver = h.get("version", "?")
                    print(f"{h['name']} {ver} — {h.get('description', '')}")
            elif args.plugin_cmd == "info":
                import json as _json

                print(_json.dumps(plugin_info(args.name, args.registry), indent=2))
            else:  # add
                module = add_plugin(args.pipeline, args.name, args.registry)
                print(f"wired plugin {args.name!r} (module {module}) into {args.pipeline}")
        except ConveyorError as exc:
            print(f"plugin {args.plugin_cmd} failed: {exc}", file=sys.stderr)
            return 2
        return 0

    if args.cmd == "update":
        from conveyor_spark.update import check_update, install_update

        try:
            if args.check:
                cur, latest, newer = check_update(args.index_url)
                if newer:
                    print(f"update available: {cur} -> {latest} "
                          "(run 'update' without --check to install)")
                else:
                    print(f"conveyor-spark {cur} is up to date (latest: {latest})")
                return 0
            return install_update(args.index_url)
        except ConveyorError as exc:
            print(f"update failed: {exc}", file=sys.stderr)
            return 2

    if args.cmd == "plugins":
        from conveyor_spark.scaffold import list_plugins

        try:
            report = list_plugins(args.pipeline)
        except ConveyorError as exc:
            print(f"plugins failed: {exc}", file=sys.stderr)
            return 2
        if not report:
            print("no plugin modules declared in [global] plugins")
        for mod, ops in report:
            print(f"{mod}: {', '.join(ops) if ops else '(no new ops registered)'}")
        return 0

    if args.cmd in ("functions", "list"):
        from conveyor_spark.registry import REGISTRY, _ensure_loaded

        _ensure_loaded()
        for name, op in sorted(REGISTRY.items()):
            if args.module_type and op.kind != args.module_type:
                continue
            print(f"{name:24s} [{op.kind}] {op.doc}")
        return 0

    if args.cmd in ("info", "describe"):
        import json as _json

        from conveyor_spark.errors import FunctionNotFound
        from conveyor_spark.metadata import describe_json, render_info

        try:
            if args.cmd == "info":
                print(render_info(args.function))
            else:
                print(_json.dumps(describe_json(args.function), indent=2, default=str))
        except FunctionNotFound:
            print(
                f"Function {args.function!r} not found. "
                "Use 'conveyor-spark functions' to see available functions.",
                file=sys.stderr,
            )
            return 2
        return 0

    try:
        spec = load_spec(args.pipeline)
    except ConveyorError as exc:
        print(f"invalid pipeline: {exc}", file=sys.stderr)
        return 2
    if args.cmd == "validate":
        import importlib

        from conveyor_spark.errors import FunctionNotFound
        from conveyor_spark.registry import config_errors, get_function, unknown_params

        # load declared plugins so their ops resolve; a plugin that
        # fails to import here keeps its functions lenient (they may
        # only be importable in the run environment)
        lenient = False
        n_warn = n_bad = 0
        for mod in spec.plugins:
            try:
                importlib.import_module(mod)
            except Exception as exc:  # noqa: BLE001 — any import-time
                # failure keeps validate lenient rather than crashing
                # it, but NEVER silently: the user must see that their
                # plugin is broken even though validate continues
                print(
                    f"warning: plugin {mod!r} failed to import "
                    f"({type(exc).__name__}: {exc}) — its functions "
                    "cannot be checked",
                    file=sys.stderr,
                )
                n_warn += 1
                lenient = True
        # unresolved {{var}} survives parsing (it may be a per-row
        # Handlebars template) — surfaced below so a typo'd
        # [global].variables reference is still visible. Shared with
        # compile_pipeline so `run` users see the same warning.
        from conveyor_spark.config.spec import unresolved_template_refs

        for sid, fn, name in unresolved_template_refs(spec):
            print(
                f"warning: stage {sid!r} ({fn}): "
                f"'{{{{ {name} }}}}' is not a [global].variables entry — "
                "left as a per-row template (typo?)",
                file=sys.stderr,
            )
            n_warn += 1
        for stage in spec.stages:
            try:
                op = get_function(stage.function)
            except FunctionNotFound:
                if not spec.plugins or not lenient:
                    # nothing could provide this op at run time either:
                    # a typo'd function name must fail HERE, not at run
                    print(
                        f"invalid pipeline: stage {stage.id!r}: unknown "
                        f"function {stage.function!r}",
                        file=sys.stderr,
                    )
                    return 2
                continue
            for w in unknown_params(op, stage.config):
                print(f"warning: stage {stage.id!r} ({stage.function}): {w}",
                      file=sys.stderr)
                n_warn += 1
            # the same check `run` raises on before the op body runs
            for e in config_errors(op, stage.config):
                print(f"invalid pipeline: stage {stage.id!r} "
                      f"({stage.function}): {e}", file=sys.stderr)
                n_bad += 1
        if n_bad:
            return 2
        suffix = f", {n_warn} warnings" if n_warn else ""
        print(f"pipeline {spec.name!r} OK ({len(spec.stages)} stages{suffix})")
        return 0

    if args.cmd == "explain":
        from conveyor_spark.compiler import compile_pipeline
        from conveyor_spark.session import get_spark

        spark = get_spark(app_name=f"conveyor-explain:{spec.name}")
        _apply_log_level(spark, args.log_level)
        result = compile_pipeline(spark, spec, run_sinks=False)
        stage_map = spec.stage_map()
        if args.stage is not None:
            if args.stage not in result.outputs:
                print(f"explain: no frame for stage {args.stage!r} "
                      f"(have {sorted(result.outputs)})", file=sys.stderr)
                return 2
            targets = [args.stage]
        else:
            # the frames that would feed each sink; all leaves if none
            sink_inputs = [
                i for s in spec.stages
                if s.id in result.skipped
                for i in stage_map[s.id].inputs if i in result.outputs
            ]
            consumed = {i for s in spec.stages for i in s.inputs}
            targets = sink_inputs or [
                sid for sid in result.outputs if sid not in consumed
            ]
        for sid in targets:
            print(f"== stage {sid} ==")
            result.outputs[sid].explain(mode=args.mode)
        return 0

    from conveyor_spark.compiler import compile_pipeline, run_pipeline
    from conveyor_spark.session import get_spark

    spark = get_spark(app_name=f"conveyor:{spec.name}", master=args.master)
    _apply_log_level(spark, args.log_level)
    if getattr(args, "dry_run", False):
        # reference: `run --dry-run` validates + builds without executing
        try:
            result = compile_pipeline(spark, spec, run_sinks=False)
        except ConveyorError as exc:
            print(f"dry run failed: {exc}", file=sys.stderr)
            return 1
        print(f"dry run OK: {len(result.outputs)} stage plans compiled, "
              f"{len(result.skipped)} sinks skipped")
        return 0
    try:
        result = run_pipeline(spark, spec)
    except ConveyorError as exc:
        print(f"pipeline failed: {exc}", file=sys.stderr)
        return 1
    if result.errors:
        for sid, err in result.errors.items():
            print(f"stage {sid} failed (continue): {err}", file=sys.stderr)
    for name, vals in result.metrics.items():
        # observe.apply stages; stderr so sink stdout stays clean data
        print(f"metrics[{name}]: {vals}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
