"""Minimal CLI mirroring the reference's command surface
(``src/kiara/interfaces/cli/``): run, operation list, module list, data list,
pipeline explain.

Usage:
    python -m kiara_spark.cli run <operation|pipeline.json|job_desc.json> [key=value ...] [--save alias] [--comment TEXT] [--explain]
    python -m kiara_spark.cli operation list | operation explain <op_id>
    python -m kiara_spark.cli module list | module explain <module_type>
    python -m kiara_spark.cli type list | type explain <name> | type hierarchy
    python -m kiara_spark.cli plugin list | plugin explain <name>
    python -m kiara_spark.cli <plugin-command> [...]   (entry point group
      `kiara_spark.cli_subcommands`; discovered commands are listed under
      "Plugin commands" in this help)
    python -m kiara_spark.cli info
    python -m kiara_spark.cli info config print [--format json]
    python -m kiara_spark.cli doc generate <dir>
    python -m kiara_spark.cli service start [--socket P] [--daemon]
    python -m kiara_spark.cli service status | service stop

When $KIARA_SPARK_SERVICE names a live service socket, `run` routes
through the long-lived context daemon (one SparkSession + one shared job
cache across invocations — the reference's ZMQ service model); otherwise
it builds a fresh local context.
    python -m kiara_spark.cli data list [--type T] [--alias GLOB] [--min-size N]
    python -m kiara_spark.cli data explain <ref>
    python -m kiara_spark.cli data load <ref>
    python -m kiara_spark.cli data filter <ref> <f1>[,<f2>...] [key=value ...] [--save alias]
    python -m kiara_spark.cli render <ref> [offset=N limit=N]
    python -m kiara_spark.cli render <item> as <html|markdown|python_script|png> [key=value ...] [--output path]
      <item>: pipeline file, job description file, archive dir, alias:/value:
      ref, operation id, job id/hash, or `api`
    python -m kiara_spark.cli render list-renderers
    python -m kiara_spark.cli context info
    python -m kiara_spark.cli context list | context explain [name ...]
    python -m kiara_spark.cli context delete <name> | context delete --all
    python -m kiara_spark.cli metadata list | metadata explain <key>
    python -m kiara_spark.cli archive export <ref> <path> | archive import <path>
    python -m kiara_spark.cli archive explain <path>
    python -m kiara_spark.cli data export [-A name] [-p path] [-c zstd|lz4|lzma|none]
        [--append|--replace] <alias|uuid|old=new> ...
    python -m kiara_spark.cli data import <archive> <value> ... [--no-aliases]
    python -m kiara_spark.cli data write_value <ref> [-d dir] [-f]
    python -m kiara_spark.cli workflow list | workflow explain <alias>
    python -m kiara_spark.cli workflow create <alias> [--pipeline file] [key=value ...]
    python -m kiara_spark.cli workflow set-input <alias> key=value ... [--process]
    python -m kiara_spark.cli workflow states <alias>
    python -m kiara_spark.cli workflow rollback <alias> [state_id]
    python -m kiara_spark.cli workflow diff <alias> <state_a> <state_b>
    python -m kiara_spark.cli pipeline list | pipeline explain <file.json>
    python -m kiara_spark.cli pipeline explain-stages|execution-graph|data-flow-graph <file.json>

Named contexts persist under $KIARA_SPARK_CONTEXTS (default
~/.local/share/kiara_spark/contexts), one directory per context — the
reference's context directory model (interfaces/cli/context/commands.py).

Inputs parse as JSON when possible, else strings (mirrors kiara's CLI arg
parsing in ``src/kiara/utils/cli/run.py``).
"""

from __future__ import annotations

import json
import os
import sys


def _contexts_root() -> str:
    """Directory holding named context dirs (reference: one directory per
    context under the kiara config dir)."""
    return (os.environ.get("KIARA_SPARK_CONTEXTS")
            or os.path.expanduser("~/.local/share/kiara_spark/contexts"))


def _parse_inputs(args: list[str]) -> dict:
    out = {}
    for a in args:
        if "=" not in a:
            raise SystemExit(f"input {a!r} must be key=value")
        k, _, v = a.partition("=")
        try:
            out[k] = json.loads(v)
        except json.JSONDecodeError:
            out[k] = v
    return out


def _looks_like_uuid(s: str) -> bool:
    """The reference disambiguates bare uuids from aliases by attempting
    uuid.UUID(alias) (cli/data/commands.py:585)."""
    import uuid

    try:
        uuid.UUID(s)
        return True
    except Exception:
        return False


def _is_job_desc_file(path: str) -> bool:
    """True when a json/yaml file is a job description (top-level
    ``operation`` key) rather than a pipeline config (``steps``) — the
    reference separates the two via ``--source-type``/file conventions
    (``models/job.py:66``); content-sniffing keeps this CLI's one `run`
    verb."""
    try:
        with open(path) as f:
            text = f.read()
        if path.endswith((".yaml", ".yml")):
            import yaml

            data = yaml.safe_load(text)
        else:
            data = json.loads(text)
    except (OSError, ValueError):
        return False
    return isinstance(data, dict) and "operation" in data and (
        "steps" not in data)


def _config_report() -> dict:
    """Merged engine configuration with per-key provenance — the data
    behind `info config print` (reference `kiara info config print`,
    interfaces/cli/info/commands.py:23-30).  Spark-free: resolves exactly
    what a fresh KiaraContext would use; the spark section reflects an
    already-active session only."""
    def ent(env_var: str, default, unset_value=None):
        raw = os.environ.get(env_var)
        if raw is not None:
            return {"value": raw, "source": f"env:{env_var}"}
        return {"value": default if unset_value is None else unset_value,
                "source": "default"}

    report = {
        "runtime": {
            "job_cache": ent("KIARA_SPARK_CACHE", "value_id"),
            "runtime_profile": ent("KIARA_SPARK_RUNTIME_PROFILE", "default"),
            "base_path": ent("KIARA_SPARK_HOME",
                             "<ephemeral tempdir per context>"),
            "contexts_root": {
                "value": _contexts_root(),
                "source": ("env:KIARA_SPARK_CONTEXTS"
                           if os.environ.get("KIARA_SPARK_CONTEXTS")
                           else "default")},
            "pipelines_path": ent("KIARA_SPARK_PIPELINES", "<unset>"),
            "service_socket": ent("KIARA_SPARK_SERVICE", "<unset>"),
        },
        "scale": {
            "broadcast_cap_bytes": ent("KIARA_SPARK_BROADCAST_CAP_BYTES",
                                       32 << 20),
            "checkpoint_dir": ent("KIARA_SPARK_CHECKPOINT_DIR",
                                  "<local tempdir; set for reliable "
                                  "cluster checkpoints>"),
            "rocksdb_state": ent("KIARA_SPARK_ROCKSDB_STATE", "<unset>"),
        },
    }
    try:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
    except Exception:  # noqa: BLE001 — config print must never fail
        active = None
    if active is None:
        report["spark"] = {"session": "not_started"}
    else:
        report["spark"] = {
            k: {"value": active.conf.get(k, None), "source": "session"}
            for k in ("spark.master", "spark.sql.shuffle.partitions",
                      "spark.sql.adaptive.enabled",
                      "spark.sql.session.timeZone")}
    return report


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if not argv:
        print(__doc__)
        return 1
    cmd = argv.pop(0)

    if cmd in ("--version", "version"):
        import pyspark

        from . import __version__

        print(f"kiara_spark {__version__} (pyspark {pyspark.__version__})")
        return 0

    from .context import KiaraContext
    from .io import show_string

    if cmd == "run":
        if not argv:
            raise SystemExit("run: missing operation name (or pipeline file)")
        op = argv.pop(0)
        save = None
        comment = None
        explain = False
        if "--explain" in argv:
            explain = True
            argv.remove("--explain")
        if "--save" in argv:
            i = argv.index("--save")
            try:
                save = argv[i + 1]
            except IndexError:
                raise SystemExit("--save requires an alias name") from None
            del argv[i:i + 2]
        for flag in ("--comment", "-c"):
            # reference `kiara run --comment/-c` (interfaces/cli/run.py:48);
            # mandatory under the dharpa runtime profile
            if flag in argv:
                i = argv.index(flag)
                try:
                    comment = argv[i + 1]
                except IndexError:
                    raise SystemExit(
                        f"{flag} requires a comment string") from None
                del argv[i:i + 2]
        inputs = _parse_inputs(argv)
        # service routing: a live daemon answers without paying Spark
        # startup (pipelines and job descriptions route too — the
        # daemon's persistent context applies a job description's save
        # map, so its aliases survive across invocations; the --save
        # FLAG stays local-context only, like pipelines).
        is_file = op.endswith((".json", ".yaml", ".yml"))
        is_job_desc = is_file and _is_job_desc_file(op)
        is_pipeline = is_file and not is_job_desc
        if not explain and not (is_file and save):
            from . import service as _svc

            if os.environ.get("KIARA_SPARK_SERVICE") and _svc.is_running():
                if is_pipeline:
                    payload = {"cmd": "run_pipeline",
                               "pipeline": os.path.abspath(op),
                               "inputs": inputs,
                               "comment": comment}
                elif is_job_desc:
                    payload = {"cmd": "run_job_desc",
                               "job_desc": os.path.abspath(op),
                               "inputs": inputs,
                               "comment": comment}
                else:
                    payload = {"cmd": "run", "operation": op,
                               "inputs": inputs, "save": save,
                               "comment": comment}
                try:
                    resp = _svc.request(payload)
                except _svc.ServiceMidFlightError as e:
                    # the daemon may have EXECUTED the request before the
                    # failure — re-running locally could duplicate side
                    # effects (--save), so surface instead of retrying
                    print(f"error: {e} (not re-running locally — the "
                          f"service may have completed the request; check "
                          f"`service status`)", file=sys.stderr)
                    return 2
                except OSError:
                    # could not reach the daemon at all: nothing was sent,
                    # safe to fall through to the local-context path
                    resp = None
                if resp is not None:
                    if not resp.get("ok"):
                        print(f"error: {resp.get('error')}", file=sys.stderr)
                        return 2
                    if resp.get("cache_hit"):
                        print("(cache hit — loaded stored outputs, "
                              "no execution)")
                    for name, o in resp["outputs"].items():
                        print(f"-- {name} ({o['type']})")
                        print(o["rendered"])
                    return 0
                print("(service unreachable — running locally)",
                      file=sys.stderr)
        ctx = KiaraContext()
        # every run shape routes through the API layer so the runtime
        # profile's comment/auto-save discipline applies uniformly
        # (reference: all CLI runs end in BaseAPI.queue_job)
        from .api import KiaraAPI

        api = KiaraAPI(context=ctx)
        if is_job_desc:
            from .registries.jobs import JobDesc

            jd = JobDesc.create_from_file(op)
            try:
                outputs = api.run_job_desc(jd, inputs, save=save,
                                           comment=comment)
            except KeyError as e:
                raise SystemExit(f"run: {e.args[0]}") from None
            for f_name, alias in sorted(jd.save.items()):
                print(f"saved {alias}")
        elif is_pipeline:
            outputs = api.run_pipeline(op, inputs, comment=comment)
            if save:
                for n, v in outputs.items():
                    if hasattr(v.data, "write"):
                        alias = save if len(outputs) == 1 else f"{save}.{n}"
                        print(f"saved {alias} -> {ctx.store_value(v, alias=alias)}")
        else:
            outputs = api.run_job(op, inputs, save=save, comment=comment)
            hist = ctx.job_registry.history
            if hist and hist[-1].cache_hit:
                print("(cache hit — loaded stored outputs, no execution)")
            if save:
                for alias, target in sorted(ctx.data_registry.aliases.items()):
                    if alias == save or alias.startswith(f"{save}."):
                        print(f"saved {alias}")
        for name, value in outputs.items():
            print(f"-- {name} ({value.schema.type})")
            data = value.data
            if explain and hasattr(data, "explain"):
                data.explain("formatted")
            print(show_string(data))
        return 0

    if cmd == "data" and argv[:1] == ["explain"]:
        import json as _json

        ctx = KiaraContext()
        v = ctx.get_value(argv[1])
        print(f"value_id: {v.value_id}")
        print(f"type:     {v.schema.type}")
        if hasattr(v.data, "schema"):
            print(f"schema:   {v.data.schema.simpleString()}")
        if v.property_links:
            print("properties:")
            for path, vid in sorted(v.property_links.items()):
                print(f"  {path:20s} -> {vid}")
        if destinies := ctx.data_registry.destiny_aliases(v):
            print(f"destinies: {', '.join(destinies)}")
        print("lineage:")
        print(_json.dumps(ctx.data_registry.lineage(v), indent=2))
        return 0

    if cmd == "data" and argv[:1] == ["load"]:
        # reference `kiara data load <value>` (cli/data/commands.py:312):
        # print the value's data — one page of rows for tables, repr
        # otherwise
        if len(argv) < 2:
            raise SystemExit("data load: missing value ref")
        ctx = KiaraContext()
        v = ctx.get_value(argv[1])
        print(show_string(v.data))
        return 0

    if cmd == "data" and argv[:1] == ["filter"]:
        # reference `kiara data filter <value> <f1>,<f2> ...`
        # (cli/data/commands.py:361): chain <type>_filter.* operations;
        # filter inputs pass as key=value (field name, or step__field when
        # a field repeats across the chain)
        if len(argv) < 3:
            raise SystemExit(
                "data filter: usage `data filter <ref> <f1>[,<f2>...] "
                "[key=value ...] [--save alias]`")
        argv.pop(0)
        ref = argv.pop(0)
        filters = [f for f in argv.pop(0).split(",") if f]
        save = None
        if "--save" in argv:
            i = argv.index("--save")
            try:
                save = argv[i + 1]
            except IndexError:
                raise SystemExit("--save requires an alias name") from None
            del argv[i:i + 2]
        inputs = _parse_inputs(argv)
        from .api import KiaraAPI

        api = KiaraAPI(context=KiaraContext())
        ctx = api.context
        v = ctx.get_value(ref)
        cfg = api.assemble_filter_pipeline_config(v.schema.type, filters)
        inputs[v.schema.type] = v
        outputs = ctx.run_pipeline(cfg, inputs)
        out = outputs[v.schema.type]
        if save:
            print(f"saved {save} -> {ctx.store_value(out, alias=save)}")
        print(show_string(out.data))
        return 0

    if cmd == "operation" and argv[:1] == ["list"]:
        # reference `kiara operation list [filter] --input-type T
        # --output-type T --operation-type T --include-internal`
        argv.pop(0)
        flt = None
        kwargs: dict = {}
        while argv:
            a = argv.pop(0)
            if a == "--input-type":
                kwargs.setdefault("input_types", []).append(argv.pop(0))
            elif a == "--output-type":
                kwargs.setdefault("output_types", []).append(argv.pop(0))
            elif a == "--operation-type":
                kwargs.setdefault("operation_types", []).append(argv.pop(0))
            elif a == "--include-internal":
                # reference `operation list --include-internal`
                # (interfaces/cli/operation/commands.py:97); internal
                # operations are hidden by default like the reference
                kwargs["include_internal"] = True
            elif a == "--no-internal":
                kwargs["include_internal"] = False  # back-compat (pre-r10)
            elif a.startswith("--"):
                raise SystemExit(f"operation list: unknown flag {a!r}")
            else:
                flt = a
        from .api import KiaraAPI

        api = KiaraAPI(context=KiaraContext())
        for op_id, op in sorted(api.list_operations(flt, **kwargs).items()):
            print(f"{op_id:45s} -> {op.module_type} {op.module_config or ''}")
        return 0

    if cmd == "operation" and argv[:1] == ["explain"]:
        # typed doc model (doc.operation_doc — the reference's
        # OperationInfo pages): identity, docstring split, per-field
        # type/optional/default/constant/doc
        from .doc import operation_doc

        ctx = KiaraContext()
        op = ctx.operation_registry.resolve(argv[1])
        d = operation_doc(ctx, op)
        print(f"operation: {d['operation_id']}")
        print(f"type:      {d['operation_type']}")
        print(f"module:    {d['module_type']}")
        if d["module_config"]:
            print(f"config:    {d['module_config']}")
        if d["description"]:
            print(f"doc:       {d['description']}")
        ch = d["characteristics"]
        flags = [k for k, v in ch.items() if v]
        if flags:
            print(f"traits:    {', '.join(flags)}")
        if d["doc"]:
            print()
            for line in d["doc"].splitlines():
                print(f"    {line}")
            print()

        def _fields(title, fields):
            print(f"{title}:")
            for f in fields:
                bits = [f["type"]]
                if f["is_constant"]:
                    bits.append(f"constant={f['default']!r}")
                elif f["default"] is not None:
                    bits.append(f"default={f['default']!r}")
                elif f["optional"]:
                    bits.append("optional")
                desc = f"  — {f['doc']}" if f["doc"] else ""
                print(f"  {f['name']:20s} {', '.join(bits)}{desc}")

        _fields("inputs", d["inputs"])
        _fields("outputs", d["outputs"])
        return 0

    if cmd == "module" and argv[:1] == ["list"]:
        ctx = KiaraContext()
        for name in ctx.modules:
            print(name)
        return 0

    if cmd == "module" and argv[:1] == ["explain"]:
        # reference `kiara module explain <module_type>`
        # (interfaces/cli/module/commands.py:70)
        if len(argv) < 2:
            raise SystemExit("module explain: missing module type")
        from .api import KiaraAPI

        api = KiaraAPI(context=KiaraContext())
        try:
            info = api.retrieve_module_type_info(argv[1])
        except KeyError:
            raise SystemExit(f"unknown module type: {argv[1]!r}") from None
        print(f"module type: {info['module_type']}")
        print(f"doc: {info['description']}")
        if info["inputs"]:
            print("inputs:")
            for fname, schema in info["inputs"].items():
                if isinstance(schema, dict):
                    ty = schema.get("type", "any")
                    opt = ", optional" if schema.get("optional") else ""
                    print(f"  {fname:24s} {ty}{opt}")
                else:
                    print(f"  {fname}")
        if info["outputs"]:
            print("outputs:")
            for fname in info["outputs"]:
                print(f"  {fname}")
        return 0

    if cmd == "type" and argv[:1] == ["explain"]:
        # reference `kiara type explain <name>`
        # (interfaces/cli/type/commands.py:108)
        if len(argv) < 2:
            raise SystemExit("type explain: missing data type name")
        from .api import KiaraAPI

        api = KiaraAPI(context=KiaraContext())
        try:
            info = api.retrieve_data_type_info(argv[1])
        except KeyError:
            raise SystemExit(f"unknown data type: {argv[1]!r}") from None
        print(f"data type: {info['type_name']}")
        print(f"python class: {info['python_class']}")
        print(f"internal: {api.is_internal_data_type(argv[1])}")
        print(f"doc: {info['doc']}")
        return 0

    if cmd == "type" and argv[:1] == ["hierarchy"]:
        # reference `kiara type hierarchy`
        # (interfaces/cli/type/commands.py:83): the DataType class tree
        from .datatypes import AnyType, DataType

        ctx = KiaraContext()
        by_name = {cls.name: cls
                   for cls in ctx.type_registry._types.values()}

        def _children(parent):
            return sorted(
                (n for n, c in by_name.items()
                 if c.__bases__[0] is parent), key=str)

        def _walk(parent, depth):
            for n in _children(parent):
                print("  " * depth + n)
                _walk(by_name[n], depth + 1)

        # 'any' is the printed root (the reference's conceptual lineage
        # root), excluded from the child walk so it never appears twice;
        # the other direct DataType subclasses print as its children,
        # merged with any real AnyType subclasses.
        print("any (root)")
        top = sorted(set(_children(DataType)) - {AnyType.name}
                     | set(_children(AnyType)))
        for n in top:
            print("  " + n)
            _walk(by_name[n], 2)
        return 0

    if cmd == "data" and argv[:1] == ["list"]:
        argv.pop(0)
        flags = {}
        while argv:
            a = argv.pop(0)
            if a == "--type":
                flags["data_types"] = [argv.pop(0)]
            elif a == "--alias":
                flags["alias_matchers"] = [argv.pop(0)]
            elif a == "--min-size":
                flags["min_size"] = int(argv.pop(0))
            else:
                raise SystemExit(f"data list: unknown flag {a!r}")
        ctx = KiaraContext()
        if flags:
            # materialize stored aliases so matchers see warehouse values too
            for alias in list(ctx.data_registry.aliases):
                try:
                    ctx.get_value(alias)
                except Exception:
                    pass
            found = ctx.data_registry.find_values(has_alias=True, **flags)
            alias_of = {vid: a for a, vid in ctx.data_registry.aliases.items()}
            for vid, v in found.items():
                print(f"{alias_of.get(vid, '-'):30s} {vid}  ({v.schema.type})")
        else:
            for alias, vid in sorted(ctx.data_registry.aliases.items()):
                print(f"{alias:30s} {vid}")
        return 0

    if cmd == "data" and argv[:1] == ["export"]:
        # reference `kiara data export [-A name] [-p path] [-c codec]
        # [--append|--replace] ALIAS...` (cli/data/commands.py:531):
        # multi-value export into one archive; each positional is an
        # alias, a value uuid, or `old=new` (export under a new alias)
        argv.pop(0)
        archive_name = path = None
        compression = "zstd"
        append = replace = False
        aliases: list[str] = []
        while argv:
            a = argv.pop(0)
            if a in ("--archive-name", "-A"):
                archive_name = argv.pop(0)
            elif a in ("--path", "-p"):
                path = argv.pop(0)
            elif a in ("--compression", "-c"):
                compression = argv.pop(0)
                if compression not in ("zstd", "lz4", "lzma", "none"):
                    raise SystemExit(
                        f"data export: invalid compression {compression!r} "
                        "(zstd/lz4/lzma/none)")
            elif a in ("--append", "-a"):
                append = True
            elif a == "--replace":
                replace = True
            elif a.startswith("-"):
                raise SystemExit(f"data export: unknown flag {a!r}")
            else:
                aliases.append(a)
        if not aliases:
            raise SystemExit("data export: at least one alias required")
        ctx = KiaraContext()
        refs: dict = {}
        unaliased: list = []
        first_label = None
        for a in aliases:
            if "=" in a:
                old, new = a.split("=", 1)
            else:
                old = a
                # a bare uuid exports data WITHOUT an archive alias
                # (reference keeps new_alias None there); bare aliases
                # export as themselves
                new = None if _looks_like_uuid(a) else a
            v = ctx.get_value(old)
            if new:
                refs[new] = old
            else:
                unaliased.append(old)
            if first_label is None:
                first_label = new or v.value_id
        if not archive_name:
            archive_name = first_label
        if not path:
            file_name = (archive_name if archive_name.endswith(".kiarchive")
                         else f"{archive_name}.kiarchive")
            full_path = file_name
        else:
            base, file_name = os.path.split(path)
            if "." not in file_name:
                file_name = f"{file_name}.kiarchive"
            full_path = os.path.join(base, file_name)
        if os.path.exists(full_path):
            if append and replace:
                raise SystemExit(
                    "Error: Can't specify both '--append' and '--replace'.")
            if not (append or replace):
                raise SystemExit(
                    f"Error: File '{full_path}' already exists and "
                    "'--append' or '--replace' not specified.")
            if replace:
                import shutil

                shutil.rmtree(full_path)
            else:
                print(f"Appending to existing data_store '{file_name}'...")
        else:
            print(f"Creating new data_store '{file_name}'...")
        manifest = ctx.export_archive(
            refs, full_path, compression=compression, append=append,
            archive_name=archive_name, unaliased_refs=unaliased)
        print(f"exported {len(refs) + len(unaliased)} value(s) "
              f"({len(manifest['values'])} in archive), aliases: "
              f"{', '.join(sorted(manifest['aliases']))} -> {full_path}")
        return 0

    if cmd == "data" and argv[:1] == ["import"]:
        # reference `kiara data import ARCHIVE VALUES... [--no-aliases]`
        # (cli/data/commands.py:699): import named values from an archive
        argv.pop(0)
        no_aliases = False
        pos: list[str] = []
        for a in argv:
            if a in ("--no-aliases", "-na"):
                no_aliases = True
            elif a.startswith("-"):
                raise SystemExit(f"data import: unknown flag {a!r}")
            else:
                pos.append(a)
        if len(pos) < 2:
            raise SystemExit("data import: usage `data import <archive> "
                             "<value> [<value> ...] [--no-aliases]`")
        archive, values = pos[0], pos[1:]
        if not os.path.exists(archive):
            raise SystemExit(f"Error: Archive '{archive}' does not exist.")
        from .api import KiaraAPI

        api = KiaraAPI(context=KiaraContext())
        loaded = api.import_values(archive, values=values,
                                   alias_map=not no_aliases)
        for key, v in sorted(loaded.items()):
            print(f"{key:30s} {v.value_id} ({v.schema.type})")
        print("Done.")
        return 0

    if cmd == "data" and argv[:1] == ["write_value"]:
        # reference develop-mode `kiara data write_value <ref> [-d dir]
        # [-f]` (cli/data/commands.py:726): dump a value's serialized
        # form — here a parquet dataset per table (the engine's
        # serialization profile), pickle bytes otherwise
        argv.pop(0)
        directory = "."
        force = False
        ref = None
        while argv:
            a = argv.pop(0)
            if a in ("--directory", "-d"):
                directory = argv.pop(0)
            elif a in ("--force", "-f"):
                force = True
            elif a.startswith("-"):
                raise SystemExit(f"data write_value: unknown flag {a!r}")
            elif ref is None:
                ref = a
            else:
                raise SystemExit("data write_value: one value ref only")
        if ref is None:
            raise SystemExit("data write_value: missing value ref")
        ctx = KiaraContext()
        v = ctx.get_value(ref)
        from pyspark.sql import DataFrame as _DF

        if isinstance(v.data, _DF):
            key_path = os.path.join(directory, "parquet")
            if os.path.exists(key_path) and not force:
                raise SystemExit(
                    "Error writing file for 'parquet': file already exists.")
            print("- writing file for: parquet")
            v.data.write.mode("overwrite").parquet(key_path)
        else:
            import pickle

            key_path = os.path.join(directory, "value.pickle")
            if os.path.exists(key_path) and not force:
                raise SystemExit("Error writing file for 'value.pickle': "
                                 "file already exists.")
            os.makedirs(directory, exist_ok=True)
            print("- writing file for: value.pickle")
            with open(key_path, "wb") as f:
                pickle.dump(v.data, f)
        return 0

    if cmd == "archive" and argv[:1] == ["export"]:
        _, ref, path = argv[:3]
        ctx = KiaraContext()
        # an 'alias:x' ref should land in the archive as alias 'x'
        name = ref.split(":", 1)[1] if ref.startswith("alias:") else ref
        manifest = ctx.export_archive({name: ref}, path)
        print(f"exported {len(manifest['values'])} value(s), "
              f"aliases: {', '.join(manifest['aliases'])} -> {path}")
        return 0

    if cmd == "archive" and argv[:1] == ["import"]:
        ctx = KiaraContext()
        loaded = ctx.import_archive(argv[1])
        for alias, v in loaded.items():
            print(f"{alias:30s} {v.value_id} ({v.schema.type})")
        return 0

    if cmd == "type" and argv[:1] == ["list"]:
        ctx = KiaraContext()
        for name in ctx.type_registry.type_names:
            cls = ctx.type_registry._types[name]
            doc = (cls.__doc__ or "").strip().splitlines()
            print(f"{name:16s} {doc[0] if doc else ''}")
        return 0

    if cmd == "render":
        if not argv:
            raise SystemExit(
                "render: usage `render <ref> [as <target>] [key=value ...] "
                "[--output path]` or `render list-renderers`")
        if argv[0] == "list-renderers":
            ctx = KiaraContext()
            for info in ctx.render_registry.renderer_infos():
                print(f"{info['renderer_name']:22s} "
                      f"{info['source_type']:>9s} -> {info['target_type']:<9s} "
                      f"{info['doc']}")
            return 0
        ref = argv.pop(0)
        output = None
        if "--output" in argv:
            i = argv.index("--output")
            try:
                output = argv[i + 1]
            except IndexError:
                raise SystemExit("--output requires a path") from None
            del argv[i:i + 2]
        if argv[:1] == ["as"]:
            # template renderer path (reference `kiara render ... item`):
            # `render <item> as <target>` routes through the RenderRegistry
            if len(argv) < 2:
                raise SystemExit("render: `as` requires a target type "
                                 "(html / markdown)")
            target = argv[1]
            cfg = _parse_inputs(argv[2:])
            ctx = KiaraContext()
            if os.path.isdir(ref) and os.path.isfile(
                    os.path.join(ref, "manifest.json")):
                # a value archive directory (reference `--source-type
                # archive`; here inferred from the manifest)
                source_type, source = "archive", ref
            elif ref.endswith((".json", ".yaml", ".yml")):
                # job descriptions and pipelines share the file extensions;
                # the reference disambiguates via --source-type, here by
                # content: a job desc has `operation`, a pipeline `steps`
                source_type = ("job_desc" if _is_job_desc_file(ref)
                               else "pipeline")
                source = ref
            elif ref in ("api", "kiara_api"):
                source_type, source = "api", ref
            elif ref.startswith(("alias:", "value:")):
                source_type, source = "value", ctx.get_value(ref)
            elif ref in ctx.operations or ref in ctx.modules:
                source_type, source = "op", ref
            elif ref.startswith("job-") or (
                    len(ref) >= 12
                    and all(c in "0123456789abcdef" for c in ref)):
                # job id ("job-N") or job hash: the job renderer resolves
                # it against this context's history (service contexts keep
                # history across invocations; a fresh CLI context reports
                # an unknown id)
                source_type, source = "job", ref
            else:
                raise SystemExit(
                    f"render: can't infer a source type for {ref!r} "
                    f"(want a pipeline file, alias:/value: ref, "
                    f"operation id, or job id/hash)")
            rendered = ctx.render_registry.render(
                source_type, target, source, **cfg)
            if output:
                # binary targets (png) return bytes - write them as such
                mode = "wb" if isinstance(rendered, bytes) else "w"
                with open(output, mode) as f:
                    f.write(rendered)
                print(f"wrote {output}")
            elif isinstance(rendered, bytes):
                raise SystemExit(
                    f"render: target {target!r} produces binary output - "
                    f"pass --output <path>")
            else:
                print(rendered)
            return 0
        cfg = _parse_inputs(argv)
        ctx = KiaraContext()
        v = ctx.get_value(ref)
        out = ctx.run_job("render.value", {"value": v, "render_config": cfg})
        result = out["render_value_result"].data
        if result.get("kind") == "table_page":
            cols = result["columns"]
            lines = [" | ".join(cols)]
            lines += [" | ".join(str(row.get(c)) for c in cols)
                      for row in result["rows"]]
            lines.append(
                f"[offset={result['offset']} limit={result['limit']} "
                f"next={result['related_scenes']['next']['offset']}]")
            text = "\n".join(lines)
        else:
            text = str(result.get("rendered", result))
        # --output is honored on BOTH render paths (previously parsed but
        # silently swallowed here)
        if output:
            with open(output, "w") as f:
                f.write(text + "\n")
            print(f"wrote {output}")
        else:
            print(text)
        return 0

    if cmd == "context" and argv[:1] == ["list"]:
        root = _contexts_root()
        names = {"default"}
        if os.path.isdir(root):
            names.update(e.name for e in os.scandir(root) if e.is_dir())
        for name in sorted(names):
            print(name)
        return 0

    if cmd == "context" and argv[:1] == ["explain"]:
        argv.pop(0)
        root = _contexts_root()
        names = argv or ["default"]
        for name in names:
            target = os.path.join(root, name)
            if name == "default" and not os.path.isdir(target):
                # the ambient default context (KIARA_SPARK_HOME / tempdir),
                # same store `run`/`context info` use — not a fresh dir
                ctx = KiaraContext()
            elif os.path.isdir(target):
                ctx = KiaraContext(base_path=target)
            else:
                # must not os.makedirs a context as a side effect of a typo
                raise SystemExit(f"context explain: no such context {name!r}")
            print(f"context: {name}")
            print(f"  base_path:  {ctx.base_path}")
            print(f"  aliases:    {len(ctx.data_registry.aliases)}")
            print(f"  operations: {len(list(ctx.operations))}")
            print(f"  modules:    {len(list(ctx.modules))}")
            print(f"  types:      {len(ctx.type_registry.type_names)}")
        return 0

    if cmd == "context" and argv[:1] == ["delete"]:
        import shutil

        argv.pop(0)
        root = _contexts_root()
        if argv[:1] == ["--all"]:
            if os.path.isdir(root):
                for e in os.scandir(root):
                    if e.is_dir():
                        shutil.rmtree(e.path)
                        print(f"deleted context: {e.name}")
            return 0
        if not argv:
            raise SystemExit("context delete: missing context name (or --all)")
        name = argv.pop(0)
        target = os.path.join(root, name)
        if not os.path.isdir(target):
            raise SystemExit(f"context delete: no such context {name!r}")
        shutil.rmtree(target)
        print(f"deleted context: {name}")
        return 0

    if cmd == "metadata" and argv[:1] == ["list"]:
        from .operators.misc import METADATA_SCHEMAS

        for key in sorted(METADATA_SCHEMAS):
            print(f"{key:16s} {METADATA_SCHEMAS[key]['doc'].splitlines()[0]}")
        return 0

    if cmd == "metadata" and argv[:1] == ["explain"]:
        from .operators.misc import METADATA_SCHEMAS

        if len(argv) < 2:
            raise SystemExit("metadata explain: missing metadata key")
        key = argv[1]
        if key not in METADATA_SCHEMAS:
            print(f"No metadata schema for key {key!r}. Available: "
                  f"{', '.join(sorted(METADATA_SCHEMAS))}", file=sys.stderr)
            return 1
        schema = METADATA_SCHEMAS[key]
        print(f"metadata type: {key}")
        print(f"doc: {schema['doc']}")
        print("fields:")
        for fname, ftype in schema["fields"].items():
            print(f"  {fname:24s} {ftype}")
        return 0

    if cmd == "archive" and argv[:1] == ["explain"]:
        from .archive import MANIFEST_NAME

        if len(argv) < 2:
            raise SystemExit("archive explain: missing archive path")
        path = argv[1]
        with open(os.path.join(path, MANIFEST_NAME)) as f:
            manifest = json.load(f)
        print(f"archive: {path}")
        print(f"  format_version: {manifest.get('format_version')}")
        print(f"  values:  {len(manifest.get('values', {}))}")
        print(f"  aliases: {', '.join(sorted(manifest.get('aliases', {})))}")
        return 0

    if cmd == "workflow" and argv[:1] == ["list"]:
        ctx = KiaraContext()
        wdir = os.path.join(ctx.base_path, "workflows")
        if os.path.isdir(wdir):
            for e in sorted(os.scandir(wdir), key=lambda e: e.name):
                if e.name.endswith(".json"):
                    with open(e.path) as f:
                        saved = json.load(f)
                    print(f"{e.name[:-5]:30s} {len(saved.get('steps', []))} "
                          f"step(s), {len(saved.get('snapshots', []))} "
                          f"snapshot(s)")
        return 0

    if cmd == "workflow" and argv[:1] == ["explain"]:
        if len(argv) < 2:
            raise SystemExit("workflow explain: missing workflow alias")
        from .workflow import Workflow

        ctx = KiaraContext()
        wf = Workflow(ctx, argv[1])
        print(f"workflow: {wf.alias}")
        print("steps:")
        for s in wf.pipeline_config["steps"]:
            links = s.get("input_links") or {}
            extra = f"  <- {links}" if links else ""
            print(f"  {s['step_id']:30s} {s['module_type']}{extra}")
        for label, aliases in (("input aliases", wf.pipeline_config.get("input_aliases", {})),
                               ("output aliases", wf.pipeline_config.get("output_aliases", {}))):
            if aliases:
                print(f"{label}:")
                for k, v in sorted(aliases.items()):
                    print(f"  {k} -> {v}")
        print(f"snapshots: {len(wf.snapshots)}")
        if wf.all_state_ids:
            print(f"states: {', '.join(wf.all_state_ids)}")
        return 0

    if cmd == "workflow" and argv[:1] == ["create"]:
        # reference `kiara workflow create <alias> [--pipeline file]`
        # (interfaces/cli/workflow/commands.py:64)
        argv.pop(0)
        if not argv:
            raise SystemExit("workflow create: missing alias")
        alias = argv.pop(0)
        pipeline = None
        if "--pipeline" in argv:
            i = argv.index("--pipeline")
            try:
                pipeline = argv[i + 1]
            except IndexError:
                raise SystemExit("--pipeline requires a file") from None
            del argv[i:i + 2]
        inputs = _parse_inputs(argv)
        from .api import KiaraAPI

        api = KiaraAPI(context=KiaraContext())
        wf = api.create_workflow(alias, initial_pipeline=pipeline,
                                 initial_inputs=inputs)
        snap = wf.snapshot()
        print(f"created workflow {alias!r}: "
              f"{len(wf.pipeline_config['steps'])} step(s), "
              f"state {snap['state_id']}")
        return 0

    if cmd == "workflow" and argv[:1] == ["set-input"]:
        # reference `kiara workflow set-input <alias> key=value [--process]`
        # (interfaces/cli/workflow/commands.py:122)
        argv.pop(0)
        if not argv:
            raise SystemExit("workflow set-input: missing workflow alias")
        alias = argv.pop(0)
        process = "--process" in argv
        if process:
            argv.remove("--process")
        inputs = _parse_inputs(argv)
        from .workflow import Workflow

        ctx = KiaraContext()
        wf = Workflow(ctx, alias)
        wf.set_inputs(**inputs)
        if process:
            outputs = wf.process()
            for name, value in outputs.items():
                print(f"-- {name} ({value.schema.type})")
                print(show_string(value.data))
        snap = wf.snapshot()
        print(f"state {snap['state_id']}")
        return 0

    if cmd == "workflow" and argv[:1] == ["states"]:
        argv.pop(0)
        if not argv:
            raise SystemExit("workflow states: missing workflow alias")
        from .workflow import Workflow

        wf = Workflow(KiaraContext(), argv[0])
        for s in wf.snapshots:
            print(f"{s['state_id']}  {len(s.get('steps', []))} step(s)  "
                  f"inputs={sorted(s.get('inputs', {}))}")
        return 0

    if cmd == "workflow" and argv[:1] == ["rollback"]:
        # restore a saved state into the live workflow (round-9
        # load_state); re-persists so the rollback survives this process
        argv.pop(0)
        if not argv:
            raise SystemExit("workflow rollback: missing workflow alias")
        alias = argv.pop(0)
        state_id = argv.pop(0) if argv else None
        from .workflow import Workflow

        wf = Workflow(KiaraContext(), alias)
        snap = wf.load_state(state_id)
        if snap is None:
            raise SystemExit(f"workflow {alias!r} has no snapshots")
        wf.snapshot()
        print(f"restored state {snap['state_id']} "
              f"({len(snap.get('steps', []))} step(s))")
        return 0

    if cmd == "workflow" and argv[:1] == ["diff"]:
        argv.pop(0)
        if len(argv) < 3:
            raise SystemExit(
                "workflow diff: usage `workflow diff <alias> <state_a> "
                "<state_b>`")
        from .workflow import Workflow

        wf = Workflow(KiaraContext(), argv[0])
        print(json.dumps(wf.diff_states(argv[1], argv[2]), indent=1))
        return 0

    if cmd == "service":
        from . import service as _svc

        sub = argv.pop(0) if argv else "status"
        sock = None
        if "--socket" in argv:
            i = argv.index("--socket")
            sock = argv[i + 1]
            del argv[i:i + 2]
        if sub == "start":
            if "--daemon" in argv:
                pid = _svc.spawn_daemon(sock)
                print(f"service starting in background (pid {pid}); poll "
                      f"with `service status`")
                return 0
            _svc.serve(sock)
            return 0
        if sub == "status":
            if _svc.is_running(sock):
                info = _svc.request({"cmd": "info"}, path=sock)
                print(f"running (pid {info['pid']}): "
                      f"{info['operations']} op(s), {info['jobs_run']} "
                      f"job(s) run, {info['aliases']} alias(es)")
                return 0
            print("not running")
            return 1
        if sub == "stop":
            if not _svc.is_running(sock):
                print("not running")
                return 1
            _svc.request({"cmd": "shutdown"}, path=sock)
            print("stopped")
            return 0
        raise SystemExit(f"service: unknown subcommand {sub!r}")

    if cmd == "plugin" and argv[:1] == ["list"]:
        from .api import KiaraAPI

        api = KiaraAPI(context=KiaraContext())
        infos = api.retrieve_plugin_infos()
        for name in sorted(infos):
            i = infos[name]
            n_ops = len(i.get("operations", []))
            n_mods = len(i.get("module_types", []))
            err = f"  [{len(i['errors'])} error(s)]" if i.get("errors") else ""
            print(f"{name:30s} {n_mods:3d} module(s) {n_ops:3d} op(s){err}")
        return 0

    if cmd == "plugin" and argv[:1] == ["explain"]:
        if len(argv) < 2:
            raise SystemExit("plugin explain: missing plugin name")
        from .api import KiaraAPI

        api = KiaraAPI(context=KiaraContext())
        i = api.retrieve_plugin_info(argv[1])
        print(f"plugin: {i['plugin_name']}")
        print(f"doc:    {i['doc']}")
        for key in ("module_types", "operations", "data_types",
                    "cli_subcommands"):
            if i.get(key):
                print(f"{key}:")
                for n in i[key]:
                    print(f"  {n}")
        for e in i.get("errors", []):
            print(f"ERROR: {e}")
        return 0

    if cmd == "doc" and argv[:1] == ["generate"]:
        # generated info pages (reference src/kiara/doc/gen_info_pages.py):
        # one markdown page per registered operation via the operation
        # renderer, plus an index — the mkdocs-ready docs tree
        if len(argv) < 2:
            raise SystemExit("doc generate: missing output directory")
        out_dir = argv[1]
        os.makedirs(out_dir, exist_ok=True)
        ctx = KiaraContext()
        rr = ctx.render_registry
        index = []
        n_fail = 0
        for op_id in ctx.operations:
            try:
                md = rr.render("op", "markdown", op_id)
            except Exception as exc:  # noqa: BLE001 — keep generating
                print(f"skip {op_id}: {exc}", file=sys.stderr)
                n_fail += 1
                continue
            fname = op_id.replace(".", "_") + ".md"
            with open(os.path.join(out_dir, fname), "w") as f:
                f.write(md)
            op = ctx.operation_registry.resolve(op_id)
            index.append(f"- [`{op_id}`]({fname})"
                         + (f" — {op.doc}" if op.doc else ""))
        with open(os.path.join(out_dir, "index.md"), "w") as f:
            f.write("# Operations\n\n" + "\n".join(index) + "\n")
        print(f"wrote {len(index)} operation pages + index.md to {out_dir}"
              + (f" ({n_fail} skipped)" if n_fail else ""))
        return 0

    if cmd == "info" and argv[:2] == ["config", "print"]:
        # reference `kiara info config print`
        # (interfaces/cli/info/commands.py:23-30: terminal_print_model of
        # the merged KiaraConfig).  Spark-free by design: reports the
        # values a fresh context WOULD resolve, each key marked with its
        # provenance (env var vs built-in default), plus the active Spark
        # session's scale knobs when one exists in this process.
        fmt = "text"
        rest = argv[2:]
        if "--format" in rest:
            i = rest.index("--format")
            try:
                fmt = rest[i + 1]
            except IndexError:
                raise SystemExit("--format requires a value") from None
        doc = _config_report()
        if fmt == "json":
            print(json.dumps(doc, indent=2))
        else:
            print("-- kiara_spark config (merged; source per key)")
            for section, entries in doc.items():
                print(f"[{section}]")
                for key, ent in entries.items():
                    if isinstance(ent, dict):
                        print(f"  {key:24s} = {ent['value']!s:32s} "
                              f"({ent['source']})")
                    else:
                        print(f"  {key:24s} = {ent}")
        return 0

    if cmd == "info":
        # aggregate info surface (reference `kiara info`,
        # src/kiara/interfaces/cli/info/): one combined listing of
        # context + types + modules + operations + plugins
        from .api import KiaraAPI

        ctx = KiaraContext()
        api = KiaraAPI(context=ctx)
        spark = ctx.spark
        print("-- context")
        print(f"spark:      {spark.version} ({spark.sparkContext.master})")
        print(f"base_path:  {ctx.base_path}")
        print(f"warehouse:  {ctx.data_registry.warehouse_path}")
        print(f"aliases:    {len(ctx.data_registry.aliases)}")
        print(f"-- data types ({len(ctx.type_registry.type_names)})")
        print("  " + ", ".join(ctx.type_registry.type_names))
        mods = list(ctx.modules)
        print(f"-- modules ({len(mods)})")
        print("  " + ", ".join(mods))
        ops = list(ctx.operations)
        print(f"-- operations ({len(ops)})")
        for op_id in ops:
            op = ctx.operation_registry.resolve(op_id)
            print(f"  {op_id:45s} -> {op.module_type}")
        infos = api.retrieve_plugin_infos()
        print(f"-- plugins ({len(infos)})")
        for name in sorted(infos):
            print(f"  {name}")
        return 0

    if cmd == "context" and argv[:1] == ["info"]:
        ctx = KiaraContext()
        spark = ctx.spark
        print(f"spark:      {spark.version} ({spark.sparkContext.master})")
        print(f"warehouse:  {ctx.data_registry.warehouse_path}")
        print(f"types:      {len(ctx.type_registry.type_names)}")
        print(f"modules:    {len(list(ctx.modules))}")
        print(f"operations: {len(list(ctx.operations))}")
        print(f"aliases:    {len(ctx.data_registry.aliases)}")
        print(f"shuffle.partitions: "
              f"{spark.conf.get('spark.sql.shuffle.partitions')}")
        print(f"adaptive:   {spark.conf.get('spark.sql.adaptive.enabled')}")
        return 0

    if cmd == "pipeline" and argv[:1] == ["list"]:
        # reference `kiara pipeline list`
        # (interfaces/cli/pipeline/commands.py:30): every discoverable
        # pipeline with its doc line.  Discovery: $KIARA_SPARK_PIPELINES
        # (colon-separated dirs) + ./pipelines + ./examples, without
        # starting Spark — listing only parses configs.
        from .pipeline import PipelineConfig

        search: list[str] = []
        env_dirs = os.environ.get("KIARA_SPARK_PIPELINES", "")
        search += [d for d in env_dirs.split(":") if d]
        search += ["pipelines", "examples"]
        seen: set[str] = set()
        rows = []
        for d in search:
            if not os.path.isdir(d):
                continue
            for entry in sorted(os.scandir(d), key=lambda e: e.name):
                if not entry.name.endswith((".json", ".yaml", ".yml")):
                    continue
                path = os.path.abspath(entry.path)
                if path in seen:
                    continue
                seen.add(path)
                try:
                    cfg = PipelineConfig.from_file(path)
                except Exception as exc:  # noqa: BLE001 — resilient
                    # listing: ONE malformed file (bad YAML, non-dict
                    # JSON, ...) must not hide every other pipeline
                    rows.append((entry.path, "<invalid>", 0,
                                 f"parse error: {exc}"))
                    continue
                doc = (cfg.doc or "").strip().splitlines()
                rows.append((entry.path, cfg.pipeline_name, len(cfg.steps),
                             doc[0] if doc else ""))
        if not rows:
            print("no pipelines found (searched: " + ", ".join(search) + ")")
            return 0
        for path, name, n_steps, doc in rows:
            print(f"{name:28s} {n_steps:2d} steps  {path}"
                  + (f"  — {doc}" if doc else ""))
        return 0

    if cmd == "pipeline" and argv[:1] == ["explain"]:
        from .pipeline import PipelineConfig, PipelineStructure

        ctx = KiaraContext()
        cfg = PipelineConfig.from_file(argv[1])
        st = PipelineStructure(cfg, ctx.module_registry)
        print(f"pipeline: {cfg.pipeline_name}")
        for i, stage in enumerate(st.stages):
            print(f"  stage {i}: {', '.join(stage)}")
        print("  inputs: ", ", ".join(pi.alias for pi in st.pipeline_inputs))
        print("  outputs:", ", ".join(po.alias for po in st.pipeline_outputs))
        return 0

    if cmd == "pipeline" and argv[:1] in (["execution-graph"],
                                          ["data-flow-graph"],
                                          ["explain-stages"]):
        # reference `kiara pipeline execution-graph / data-flow-graph /
        # explain-stages` (interfaces/cli/pipeline/commands.py:107-200):
        # terminal renderings of the step DAG / dataflow edges / stages
        sub = argv.pop(0)
        if not argv:
            raise SystemExit(f"pipeline {sub}: missing pipeline file")
        from .pipeline import PipelineConfig, PipelineStructure

        ctx = KiaraContext()
        cfg = PipelineConfig.from_file(argv[0])
        st = PipelineStructure(cfg, ctx.module_registry)
        print(f"pipeline: {cfg.pipeline_name}")
        if sub == "explain-stages":
            for i, stage in enumerate(st.stages):
                print(f"stage {i}:")
                for sid in stage:
                    print(f"  {sid} ({st.step(sid).module_type})")
        elif sub == "execution-graph":
            for sid, downstream in st.execution_graph.items():
                arrow = f" -> {', '.join(downstream)}" if downstream else ""
                print(f"  {sid}{arrow}")
        else:  # data-flow-graph: input -> step.field edges + outputs
            for pi in st.pipeline_inputs:
                print(f"  input:{pi.alias} -> {pi.step_id}.{pi.field_name}")
            for s in cfg.steps:
                for f, refs in s.input_links.items():
                    for r in refs:
                        print(f"  {r.step_id}.{r.value_name} -> "
                              f"{s.step_id}.{f}")
            for po in st.pipeline_outputs:
                print(f"  {po.step_id}.{po.field_name} -> "
                      f"output:{po.alias}")
        return 0

    # Plugin-contributed command groups (reference parity: the CLI
    # assembles itself from `kiara.cli_subcommands` entry points —
    # find_all_cli_subcommands in utils/class_loading.py:659, wired at
    # interfaces/cli/__init__.py:187).  Checked only after every built-in
    # branch has declined, so plugins extend but never shadow the core.
    from .plugins import find_cli_subcommands

    subcommands = find_cli_subcommands()
    if cmd in subcommands:
        return int(subcommands[cmd].handler(argv) or 0)

    print(__doc__)
    if subcommands:
        print("Plugin commands:")
        for name, sc in sorted(subcommands.items()):
            suffix = f"  # {sc.doc}" if sc.doc else ""
            print(f"    python -m kiara_spark.cli {name} ..."
                  f"{suffix} [{sc.distribution}]")
    return 1


def entrypoint() -> int:
    """main() with expected failures rendered as one-line errors."""
    from .modules import InvalidInputsError

    try:
        return main()
    except InvalidInputsError as e:
        print(f"error: {e}", file=sys.stderr)
    except KeyError as e:
        print(f"error: {e.args[0] if e.args else e}", file=sys.stderr)
    except FileNotFoundError as e:
        print(f"error: not found: {e.filename or e}", file=sys.stderr)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
    except Exception as e:
        from .service import ServiceMidFlightError

        if not isinstance(e, ServiceMidFlightError):
            raise
        print(f"error: {e}", file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(entrypoint())
