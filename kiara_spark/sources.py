"""Custom source connectors on the Spark 4 Python Data Source API.

The reference's source surface is the ``import_data`` operation family
(``import.local.file[_bundle]``, SURVEY §2.2); Spark 4's Python Data Source
API is the engine-native way to add NEW source formats without JVM code:
a registered ``DataSource`` exposes schema, PARALLEL input partitions, and
FILTER PUSHDOWN, and then composes with everything else
(``spark.read.format("kiara_synth_docs")``).

``kiara_synth_docs`` is a deterministic synthetic-document source:

- every field derives from md5 arithmetic over (doc id), so the stream is a
  pure function of (partitions, rowsPerPartition) — reproducible anywhere,
  and SQL-expressible, which makes a third-party source oracle-verifiable
  row for row (rare for connectors);
- ``partitions()`` splits the id range into one ``InputPartition`` per
  chunk — each reads independently on executors (the 100 TB contract: a
  source must present enough splits to keep the cluster wide);
- ``pushFilters`` handles ``lang = '<x>'`` equality INSIDE the generator —
  rows that fail the filter are never produced — and returns every other
  predicate to Spark (correctness never depends on pushdown).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceStreamWriter,
                                    DataSourceWriter, EqualTo, Filter,
                                    InputPartition,
                                    SimpleDataSourceStreamReader,
                                    WriterCommitMessage)

LANGS = ["de", "en", "es", "fr", "zh"]


def _h32(s: str) -> int:
    """The engine's portable 32-bit hash (first 8 md5 hex digits)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def synth_row(doc_id: int) -> tuple:
    """One synthetic document row — pure function of the id, matching the
    SQL-oracle arithmetic exactly."""
    lang = LANGS[_h32(f"lang{doc_id}") % 5]
    n_chars = _h32(f"n{doc_id}") % 1000
    return (doc_id, lang, n_chars)


@dataclass
class _RangePartition(InputPartition):
    start: int
    end: int


class SynthDocsReader(DataSourceReader):
    def __init__(self, options):
        self.n_parts = int(options.get("partitions", 4))
        self.rows_per = int(options.get("rowsPerPartition", 100))
        self.lang_eq: str | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("lang",):
                self.lang_eq = f.value
            else:
                yield f  # unhandled -> Spark re-applies it

    def partitions(self):
        return [
            _RangePartition(p * self.rows_per, (p + 1) * self.rows_per)
            for p in range(self.n_parts)
        ]

    def read(self, partition: _RangePartition):
        for doc_id in range(partition.start, partition.end):
            row = synth_row(doc_id)
            if self.lang_eq is not None and row[1] != self.lang_eq:
                continue
            yield row


class SynthDocsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kiara_synth_docs"

    def schema(self) -> str:
        return "doc_id bigint, lang string, n_chars bigint"

    def reader(self, schema):
        return SynthDocsReader(self.options)

    def simpleStreamReader(self, schema):
        return SynthDocsStreamReader(self.options)


@dataclass
class _WroteFile(WriterCommitMessage):
    path: str
    n_rows: int


class JsonlWriter(DataSourceWriter):
    """One JSONL file per task + driver-side commit manifest — the
    two-phase protocol every distributed sink needs: task files land under
    temp names, ``commit`` (driver, exactly once) records the file list,
    so readers never see a partial write and a failed/speculated task's
    ``abort`` cleans up after itself."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kiara_jsonl writer requires a path option")

    def write(self, iterator) -> "_WroteFile":
        import json
        import os
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.jsonl"
        full = os.path.join(self.path, name)
        n = 0
        with open(full, "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _WroteFile(path=name, n_rows=n)

    def commit(self, messages) -> None:
        import os

        from .jsonfile import write_json

        manifest = {
            "files": sorted(m.path for m in messages),
            "n_rows": sum(m.n_rows for m in messages),
        }
        write_json(os.path.join(self.path, "_MANIFEST.json"), manifest)

    def abort(self, messages) -> None:
        import os

        for m in messages:
            try:
                os.remove(os.path.join(self.path, m.path))
            except OSError:
                pass


class JsonlStreamWriter(DataSourceStreamWriter):
    """Streaming twin of the JSONL sink: per-epoch commit — each
    micro-batch's task files are recorded in ``_EPOCH_<batchId>.json`` by
    the driver after all tasks succeed, giving readers an atomic view of
    every completed batch and making replayed batches detectable (same
    batchId overwrites the same manifest: idempotent under retries)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kiara_jsonl stream writer requires a path option")

    def write(self, iterator) -> "_WroteFile":
        import json
        import os
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        name = f"stream-{pid:05d}-{uuid.uuid4().hex[:8]}.jsonl"
        n = 0
        with open(os.path.join(self.path, name), "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _WroteFile(path=name, n_rows=n)

    def commit(self, messages, batchId: int) -> None:
        import os

        from .jsonfile import write_json

        manifest = {
            "batch_id": batchId,
            "files": sorted(m.path for m in messages if m),
            "n_rows": sum(m.n_rows for m in messages if m),
        }
        write_json(os.path.join(self.path, f"_EPOCH_{batchId}.json"), manifest)

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m:
                try:
                    os.remove(os.path.join(self.path, m.path))
                except OSError:
                    pass


class JsonlDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kiara_jsonl"

    def writer(self, schema, overwrite: bool):
        return JsonlWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return JsonlStreamWriter(self.options)


class SynthDocsStreamReader(SimpleDataSourceStreamReader):
    """Bounded deterministic micro-batch source: offsets are row indices,
    each ``read`` advances by ``rowsPerBatch`` until ``maxRows``.  Replay
    is exact — ``readBetweenOffsets`` regenerates any [start, end) slice
    from the same pure function, which is precisely the contract a
    recovering stream needs from a source after failure."""

    def __init__(self, options):
        self.rows_per_batch = int(options.get("rowsPerBatch", 100))
        self.max_rows = int(options.get("maxRows", 500))

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def read(self, start: dict):
        lo = start["idx"]
        hi = min(lo + self.rows_per_batch, self.max_rows)
        return (iter([synth_row(i) for i in range(lo, hi)]), {"idx": hi})

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([synth_row(i) for i in range(start["idx"], end["idx"])])

    def commit(self, end: dict) -> None:
        pass


def register_python_sources(spark) -> None:
    """Install the Python data sources into the session (idempotent).
    Python-side filter pushdown is opt-in in Spark 4 — enable it so
    ``pushFilters`` actually receives predicates."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SynthDocsDataSource)
    spark.dataSource.register(JsonlDataSource)
