"""Filesystem source/sink operators.

Re-expresses the reference's file modules
(``src/kiara/modules/included_core_modules/filesystem.py``: import.local.file
:28-55, import.local.file_bundle :136-179, create.file.from.bytes :58-84,
file_bundle.pick.file :271-300, file_bundle.pick.sub_folder :303-345,
export.file :258-268) Spark-first: a *file* is a small driver-side descriptor;
a *file bundle* is a distributed DataFrame of
``(rel_path, content:binary, length, mtime)`` read via Spark's ``binaryFile``
source — so a million-file corpus is scanned in parallel, include/exclude
filters prune at the listing (``pathGlobFilter``) where possible and as
DataFrame filters otherwise.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..jsonfile import write_json
from ..modules import (DICT, STRING, TABLE, ModuleCharacteristics,
                       _simple_module, config_kwargs)
from ..operations import Operation


@dataclass(frozen=True)
class KiaraFile:
    """Driver-side file descriptor (reference ``src/kiara/models/filesystem.py:45-217``)."""

    path: str
    file_name: str
    size: int

    @classmethod
    def from_path(cls, path: str) -> "KiaraFile":
        return cls(path=os.path.abspath(path), file_name=os.path.basename(path),
                   size=os.path.getsize(path))

    def read_bytes(self) -> bytes:
        with open(self.path, "rb") as f:
            return f.read()

    def read_text(self, encoding: str = "utf-8") -> str:
        return self.read_bytes().decode(encoding)


def import_file_bundle(
    spark: SparkSession,
    path: str,
    include_file_types: list[str] | None = None,
    exclude_file_types: list[str] | None = None,
) -> DataFrame:
    """Folder -> DataFrame(rel_path, content, length, mtime).

    ``include_file_types`` (e.g. [".csv", ".txt"]) becomes a glob filter so
    excluded files are never even opened; exclusion is a cheap post-filter.
    """
    base = os.path.abspath(path)
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if include_file_types and len(include_file_types) == 1:
        reader = reader.option("pathGlobFilter", f"*{include_file_types[0]}")
    df = reader.load(base)
    prefix_len = len("file:" + base.rstrip("/")) + 1
    df = df.select(
        F.expr(f"substring(path, {prefix_len + 1})").alias("rel_path"),
        F.col("content"),
        F.col("length"),
        F.col("modificationTime").alias("mtime"),
    )
    if include_file_types and len(include_file_types) > 1:
        cond = None
        for ext in include_file_types:
            c = F.col("rel_path").endswith(ext)
            cond = c if cond is None else (cond | c)
        df = df.filter(cond)
    for ext in exclude_file_types or []:
        df = df.filter(~F.col("rel_path").endswith(ext))
    return df


def incremental_read(
    spark: SparkSession,
    path: str,
    state_path: str,
    file_format: str = "parquet",
) -> tuple[DataFrame, dict]:
    """Batch-incremental file ingest (the Auto-Loader/`availableNow` pattern
    for plain batch jobs): read ONLY the files under ``path`` that a
    previous run has not already processed, then record them in a ledger at
    ``state_path`` so the next run skips them.

    The ledger is a JSON list of (relative path, size) pairs — a file that
    is rewritten with a different size is treated as new, silent in-place
    same-size rewrites are not (documented limitation; parquet writers
    never do that).  The ledger update is atomic (tmp + rename), and it is
    written BEFORE the returned DataFrame is consumed — callers that crash
    mid-consume re-run with a fresh ledger read, so delivery is
    at-most-once per ledger commit; wrap the consume + ledger in the job
    cache for effectively-once.  Listing is driver-side (one os.walk —
    cheap next to any scan); the returned plan reads just the new files, so
    a daily incremental over a 100 TB archive scans only the day's arrivals.

    Returns (DataFrame over new files only — empty with the right schema if
    nothing is new, report dict)."""
    import json

    base = os.path.abspath(path)
    current: dict[str, int] = {}
    for root, _dirs, names in os.walk(base):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            p = os.path.join(root, n)
            current[os.path.relpath(p, base)] = os.path.getsize(p)

    seen: dict[str, int] = {}
    if os.path.isfile(state_path):
        with open(state_path) as f:
            seen = {k: v for k, v in json.load(f)["files"]}

    if not current:
        raise FileNotFoundError(
            f"incremental_read: no data files under {base!r} (cannot infer "
            "a schema from an empty source; write at least one file first)")
    new_files = sorted(rel for rel, size in current.items()
                       if seen.get(rel) != size)
    if new_files:
        df = spark.read.format(file_format).load(
            [os.path.join(base, rel) for rel in new_files])
    else:
        df = spark.read.format(file_format).load(base).limit(0)

    write_json(state_path, {"files": sorted(current.items())})
    return df, {
        "n_new_files": len(new_files),
        "n_known_files": len(seen),
        "new_files": new_files,
    }


def bundle_to_text_table(df: DataFrame, encoding: str = "utf-8") -> DataFrame:
    """file_bundle -> (rel_path, text, length, mtime): the bridge from raw
    corpora to the text-analysis operators."""
    return df.select(
        "rel_path",
        F.decode(F.col("content"), encoding).alias("text"),
        "length",
        "mtime",
    )


ImportLocalFile = _simple_module(
    "import.local.file", {"path": STRING}, {"file": {"type": "file"}},
    lambda self, im, ctx: {"file": KiaraFile.from_path(im["path"].data)},
    doc="Reference filesystem.py:28-55 (non-idempotent: external-world read).",
    characteristics=ModuleCharacteristics(is_idempotent=False, is_source=True),
)

ImportLocalFileBundle = _simple_module(
    "import.local.file_bundle",
    {"path": STRING},
    {"file_bundle": {"type": "file_bundle"}},
    lambda self, im, ctx: {
        "file_bundle": import_file_bundle(
            ctx.spark,
            im["path"].data,
            **config_kwargs(self, "include_file_types", "exclude_file_types"),
        )
    },
    doc="Reference filesystem.py:136-179.",
    characteristics=ModuleCharacteristics(is_idempotent=False, is_source=True),
)


def _create_file_from_bytes_process(self, im, ctx):
    target = os.path.join(ctx.base_path, "files", im["file_name"].data)
    os.makedirs(os.path.dirname(target), exist_ok=True)
    with open(target, "wb") as f:
        f.write(im["bytes"].data)
    return {"file": KiaraFile.from_path(target)}


CreateFileFromBytes = _simple_module(
    "create.file.from.bytes",
    {"bytes": {"type": "bytes"}, "file_name": STRING},
    {"file": {"type": "file"}},
    _create_file_from_bytes_process,
    doc="Reference filesystem.py:58-84.",
    characteristics=ModuleCharacteristics(is_idempotent=False),
)

FileBundlePickFile = _simple_module(
    "file_bundle.pick.file",
    {"file_bundle": {"type": "file_bundle"}, "path": STRING},
    {"file": TABLE},
    lambda self, im, ctx: {
        "file": im["file_bundle"].data.filter(
            F.col("rel_path") == F.lit(im["path"].data)
        )
    },
    doc="Reference filesystem.py:271-300 — select one file by rel path.",
)


def _file_bundle_pick_sub_folder_process(self, im, ctx):
    sub = im["sub_path"].data.rstrip("/") + "/"
    return {
        "file_bundle": im["file_bundle"].data.filter(
            F.col("rel_path").startswith(sub)
        )
    }


FileBundlePickSubFolder = _simple_module(
    "file_bundle.pick.sub_folder",
    {"file_bundle": {"type": "file_bundle"}, "sub_path": STRING},
    {"file_bundle": {"type": "file_bundle"}},
    _file_bundle_pick_sub_folder_process,
    doc="Reference filesystem.py:303-345 — prefix-filter into a sub-bundle.",
)

FileBundleToTextTable = _simple_module(
    "create.table.from.file_bundle",
    {"file_bundle": {"type": "file_bundle"}},
    {"table": TABLE},
    lambda self, im, ctx: {"table": bundle_to_text_table(
        im["file_bundle"].data, **config_kwargs(self, "encoding"))},
    doc="Bundle -> text table (the tabular-plugin 'create.table.from.file_bundle' role).",
)


def _export_file_process(self, im, ctx):
    import shutil

    src: KiaraFile = im["file"].data
    name = im["name"].data if "name" in im else src.file_name
    base = im["base_path"].data
    os.makedirs(base, exist_ok=True)
    target = os.path.join(base, name)
    shutil.copyfile(src.path, target)
    return {"export_details": {"path": target, "size": src.size}}


ExportFile = _simple_module(
    "export.file",
    {"file": {"type": "file"}, "base_path": STRING,
     "name": {"type": "string", "optional": True}},
    {"export_details": DICT},
    _export_file_process,
    doc="Reference export.file (filesystem.py:258-268 + export_as.py base).",
    characteristics=ModuleCharacteristics(is_idempotent=False),
)


def _import_incremental_files_process(self, im, ctx):
    df, report = incremental_read(
        ctx.spark, im["path"].data, im["state_path"].data,
        **config_kwargs(self, "file_format"))
    return {"table": df, "report": report}


ImportIncrementalFiles = _simple_module(
    "import.incremental.files",
    {"path": STRING, "state_path": STRING},
    {"table": TABLE, "report": DICT},
    _import_incremental_files_process,
    doc="""Batch-incremental ingest: only files unseen by the ledger are read
    (see incremental_read).  Non-idempotent by nature — each run advances
    the ledger.""",
    characteristics=ModuleCharacteristics(is_idempotent=False, is_source=True),
)


MODULES = [
    ImportLocalFile, ImportLocalFileBundle, CreateFileFromBytes,
    FileBundlePickFile, FileBundlePickSubFolder, FileBundleToTextTable, ExportFile,
    ImportIncrementalFiles,
]

OPERATIONS = [
    Operation("import.file", "import.local.file", operation_type="import_data"),
    Operation("import.file_bundle", "import.local.file_bundle", operation_type="import_data"),
    Operation("create.table.from.file_bundle", "create.table.from.file_bundle",
              operation_type="create_from"),
    Operation("export.file.as.copy", "export.file", operation_type="export_as"),
    Operation("import.incremental.files", "import.incremental.files",
              operation_type="import_data"),
]
