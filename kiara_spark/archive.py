"""Portable value archives — the reference's ``.kiarchive`` export/import
surface (``src/kiara/interfaces/python_api/base_api.py`` export_values /
import_archive; golden-file tests ``tests/test_archives/``) re-expressed for
a Parquet world.

An archive is a plain directory (trivially tar-able):

    archive/
      manifest.json            # archive-level metadata + alias map + lineage
      values/<value_id>/       # one Parquet dataset per exported table value
        ...parquet files...

Export walks the pedigree chain and records the full provenance tree in the
manifest; datasets are exported for the requested values (lineage ancestors
are recorded as metadata-only nodes unless ``include_ancestors``).  Import
registers every shipped dataset in the target context and restores aliases.

Scale note: export/import move data through ``DataFrameWriter``/``read`` —
distributed Parquet IO, no driver materialization; the manifest is tiny
driver-side JSON.
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

from .jsonfile import write_json
from .values import ORPHAN, Value, ValuePedigree, ValueSchema

if TYPE_CHECKING:
    from .context import KiaraContext

MANIFEST_NAME = "manifest.json"
ARCHIVE_FORMAT_VERSION = 1


# reference `--compression` choices (interfaces/cli/data/commands.py:543)
# mapped onto Parquet codecs; Parquet has no lzma, so that choice lands on
# gzip — the closest ratio-over-speed codec — as a documented deviation.
COMPRESSION_CODECS = {
    "zstd": "zstd",
    "lz4": "lz4",
    "lzma": "gzip",
    "none": "none",
}


def export_archive(
    context: "KiaraContext",
    refs: list[str] | dict[str, str],
    archive_path: str,
    include_ancestors: bool = True,
    compression: str | None = None,
    append: bool = False,
    archive_name: str | None = None,
    unaliased_refs: list[str] | tuple[str, ...] = (),
) -> dict:
    """Export values (by alias/uuid ref) into a portable archive directory.

    ``refs``: list of refs (aliases become archive aliases) or a mapping
    ``archive_alias -> ref``; a mapping entry whose key is ``None``-like
    is not allowed — use ``unaliased_refs`` for values that should ship
    data without an archive alias (the reference's bare-uuid export,
    where new_alias stays None).  Returns the manifest dict.

    Reference parity (interfaces/cli/data/commands.py:531 `data export`):
    ``compression`` selects the in-archive codec (zstd/lz4/lzma/none —
    Parquet column compression here, chunk compression there; lzma maps to
    gzip), ``append`` merges into an existing archive (aliases already in
    the target are overwritten, matching the reference's
    allow_alias_overwrite=True), ``archive_name`` is the registered name
    recorded in the manifest (reference target_registered_name)."""
    if compression is not None and compression not in COMPRESSION_CODECS:
        raise ValueError(
            f"unsupported compression {compression!r} "
            f"(one of {sorted(COMPRESSION_CODECS)})")
    codec = COMPRESSION_CODECS.get(compression) if compression else None
    os.makedirs(os.path.join(archive_path, "values"), exist_ok=True)

    exported: dict[str, dict] = {}
    aliases: dict[str, str] = {}
    if append:
        manifest_path = os.path.join(archive_path, MANIFEST_NAME)
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                prior = json.load(f)
            if prior.get("format_version") != ARCHIVE_FORMAT_VERSION:
                raise ValueError(
                    "cannot append to archive with format "
                    f"{prior.get('format_version')!r}")
            exported.update(prior.get("values", {}))
            aliases.update(prior.get("aliases", {}))
            if archive_name is None:
                archive_name = prior.get("archive_name")
    if isinstance(refs, list):
        refs = {r: r for r in refs}

    def _export_value(value: Value, ship_data: bool) -> None:
        prior_node = exported.get(value.value_id)
        if prior_node is not None:
            # append mode can revisit a value the prior manifest recorded as
            # metadata-only (exported earlier with include_ancestors=False,
            # or as a non-table output).  If THIS pass ships data, upgrade
            # the node in place — otherwise `data import <alias>` would
            # resolve the alias to a dataless node and silently load nothing.
            if (ship_data and not prior_node.get("has_data")
                    and isinstance(value.data, DataFrame)):
                dest = os.path.join(archive_path, "values", value.value_id)
                writer = value.data.write.mode("overwrite")
                if codec is not None:
                    writer = writer.option("compression", codec)
                writer.parquet(dest)
                prior_node["has_data"] = True
                prior_node["spark_schema"] = value.data.schema.jsonValue()
            return
        node = {
            "value_id": value.value_id,
            "type": value.schema.type,
            "pedigree": {
                "module_type": value.pedigree.module_type,
                "module_config": value.pedigree.module_config,
                "inputs": dict(value.pedigree.inputs),
            },
            "has_data": False,
        }
        if ship_data and isinstance(value.data, DataFrame):
            dest = os.path.join(archive_path, "values", value.value_id)
            writer = value.data.write.mode("overwrite")
            if codec is not None:
                writer = writer.option("compression", codec)
            writer.parquet(dest)
            node["has_data"] = True
            node["spark_schema"] = value.data.schema.jsonValue()
        exported[value.value_id] = node
        if not value.pedigree.is_orphan:
            for upstream_id in value.pedigree.inputs.values():
                try:
                    upstream = context.data_registry.get_value(upstream_id)
                except KeyError:
                    continue
                _export_value(upstream, ship_data=include_ancestors)

    for archive_alias, ref in refs.items():
        value = context.data_registry.get_value(ref)
        aliases[archive_alias] = value.value_id
        _export_value(value, ship_data=True)
    for ref in unaliased_refs:
        _export_value(context.data_registry.get_value(ref), ship_data=True)

    manifest = {
        "format_version": ARCHIVE_FORMAT_VERSION,
        "aliases": aliases,
        "values": exported,
    }
    if archive_name:
        manifest["archive_name"] = archive_name
    if compression:
        manifest["compression"] = compression
    write_json(os.path.join(archive_path, MANIFEST_NAME), manifest,
               indent=1, sort_keys=True)
    return manifest


def import_archive(context: "KiaraContext", archive_path: str,
                   alias_prefix: str = "",
                   values: list[str] | None = None,
                   restore_aliases: bool = True) -> dict[str, Value]:
    """Import an archive: register every shipped dataset (lazy parquet scans)
    and restore aliases (optionally prefixed).  Returns alias -> Value.

    Reference parity (interfaces/cli/data/commands.py:699 `data import`):
    ``values`` restricts the import to the named archive aliases/value_ids
    (all shipped values when None); ``restore_aliases=False`` registers the
    values without their aliases (the reference's ``--no-aliases``) — the
    returned dict is then keyed by value_id."""
    with open(os.path.join(archive_path, MANIFEST_NAME)) as f:
        manifest = json.load(f)
    if manifest.get("format_version") != ARCHIVE_FORMAT_VERSION:
        raise ValueError(
            f"unsupported archive format {manifest.get('format_version')!r}")

    wanted_ids: set[str] | None = None
    wanted_alias_names: set[str] = set()
    wanted_id_refs: set[str] = set()
    if values is not None:
        wanted_ids = set()
        for ref in values:
            if ref in manifest["aliases"]:
                wanted_ids.add(manifest["aliases"][ref])
                wanted_alias_names.add(ref)
            elif ref in manifest["values"]:
                wanted_ids.add(ref)
                wanted_id_refs.add(ref)
            else:
                raise KeyError(
                    f"archive has no alias or value_id {ref!r} "
                    f"(aliases: {sorted(manifest['aliases'])})")

    loaded: dict[str, Value] = {}
    for value_id, node in manifest["values"].items():
        if not node.get("has_data"):
            continue
        if wanted_ids is not None and value_id not in wanted_ids:
            continue
        df = context.spark.read.parquet(
            os.path.join(archive_path, "values", value_id))
        ped = ORPHAN
        p = node.get("pedigree") or {}
        if p.get("module_type") and p["module_type"] != ORPHAN.module_type:
            ped = ValuePedigree(module_type=p["module_type"],
                                module_config=p.get("module_config") or {},
                                inputs=p.get("inputs") or {})
        value = Value(data=df, schema=ValueSchema(type=node.get("type", "table")),
                      value_id=value_id, pedigree=ped)
        context.data_registry.register_value(value)
        loaded[value_id] = value

    if not restore_aliases:
        return dict(loaded)
    out: dict[str, Value] = {}
    for alias, value_id in manifest["aliases"].items():
        if value_id not in loaded:
            continue
        # when specific refs were requested, restore only the aliases the
        # caller named (plus every alias of a value addressed by raw id) —
        # importing one selected alias must not drag in sibling aliases
        # that point at the same value_id
        if values is not None and alias not in wanted_alias_names \
                and value_id not in wanted_id_refs:
            continue
        name = f"{alias_prefix}{alias}"
        context.data_registry.register_alias(name, value_id)
        out[name] = loaded[value_id]
    return out
