"""Data registry: value catalog, aliases, and the Parquet warehouse.

Re-expresses the reference's DataRegistry + alias registry + data stores
(``src/kiara/registries/data/__init__.py``, ``registries/aliases``,
``data_store/filesystem_store.py``) as: an in-memory value catalog, an alias
map (``alias -> value_id``), and a Parquet warehouse directory for persisted
table values with JSON sidecar metadata (pedigree, schema, hash).

A save runs the value's plan once.  The parquet write goes to a staging
directory under the warehouse while ``DataFrame.observe`` takes the content
hash's aggregates (``hashing.content_hash_aggregates``).  Value dedup on store
(reference ``data/__init__.py:848-948``) then looks the hash up: a value whose
content already exists in the warehouse discards its staging write and reuses
the existing dataset; a new one is renamed into place with ``os.replace``, so
a crash mid-write never leaves a half-written dataset under a live path.  The
trade-off: a dedup hit costs a discarded write instead of a hashing scan.

After a save the value's payload is a scan of the stored files, so the page
that follows and every later consumer read them instead of re-running the
plan.  A globally sorted value records ``ordered`` in its sidecar and loads as
the union of its part files in file-name order (Spark names them by partition
index): one scan would pack the files into splits largest-first and scramble
the order.
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid as _uuid
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Observation
from pyspark.sql.types import StructType

from ..hashing import content_hash_aggregates, content_hash_from_aggregates
from ..jsonfile import read_json, write_json
from ..values import ORPHAN, Value, ValueSchema

if TYPE_CHECKING:
    from ..context import KiaraContext


def _is_uuid_shaped(ref: str) -> bool:
    """True when ``ref`` parses as a uuid (the reference's bare-uuid
    disambiguation, cli/data/commands.py:585) — the only shape allowed to
    probe the warehouse directory by path."""
    try:
        _uuid.UUID(ref)
        return True
    except Exception:
        return False


# Logical plan nodes that keep their child's row order.
_ORDER_KEEPING = {"Project", "Filter", "SubqueryAlias", "View", "GlobalLimit",
                  "LocalLimit"}


def _is_ordered(df: DataFrame) -> bool:
    """True when ``df`` is globally sorted: its analyzed plan (built with the
    DataFrame, so this plans nothing) is a global ``Sort`` under nodes that
    keep row order only."""
    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() in _ORDER_KEEPING and node.children().size() == 1:
        node = node.children().head()
    return node.nodeName() == "Sort" and bool(getattr(node, "global")())


@dataclass
class Destiny:
    """A deferred derived-value computation registered against a value
    (reference ``models/module/destiny.py`` + ``registries/data/__init__.py:
    693-820``): run ``operation`` with the value bound to ``input_field``,
    remember the result, and attach it to the value as a named property."""

    destiny_alias: str
    value_id: str
    operation: str
    operation_config: dict = field(default_factory=dict)
    input_field: str | None = None
    extra_inputs: dict = field(default_factory=dict)
    result_field: str | None = None
    destiny_id: str = field(default_factory=lambda: str(_uuid.uuid4()))
    result_value_id: str | None = None


class DataRegistry:
    def __init__(self, context: "KiaraContext", warehouse_path: str | None = None):
        self._context = context
        self._values: dict[str, Value] = {}
        self._aliases: dict[str, str] = {}  # alias -> value_id
        self._destinies: dict[str, dict[str, Destiny]] = {}  # value_id -> alias -> Destiny
        self._hash_index: dict[str, str] = {}  # content_hash -> store path
        self._scalar_index: dict[str, str] = {}  # scalar content_hash -> value_id
        self.warehouse_path = warehouse_path or os.path.join(
            context.base_path, "warehouse"
        )
        os.makedirs(self.warehouse_path, exist_ok=True)
        self._load_hash_index()
        # alias -> dataset path for persisted values (survives restarts;
        # reference alias archives, ``registries/aliases/__init__.py:98+``).
        self._stored_aliases: dict[str, str] = {}
        self._load_stored_aliases()

    # -- registration -----------------------------------------------------
    def register_data(
        self, data, data_type: str = "table", pedigree=ORPHAN, schema: ValueSchema | None = None
    ) -> Value:
        schema = schema or ValueSchema(type=data_type)
        dtype = self._context.type_registry.get(schema.type, **schema.type_config)
        value = Value(data=dtype.validate(data), schema=schema, pedigree=pedigree)
        # scalar dedup-by-content on registration (reference
        # data/__init__.py:848-948): identical scalar inputs resolve to the
        # SAME value id, which is what makes the value_id job-cache strategy
        # hit across repeated binds.  DataFrames are exempt here (hashing
        # them costs a scan — that's the opt-in data_hash strategy).
        if not isinstance(value.data, DataFrame):
            try:
                key = value.content_hash()
            except Exception:
                key = None
            if key is not None:
                if key in self._scalar_index:
                    return self._values[self._scalar_index[key]]
                self._scalar_index[key] = value.value_id
        self._values[value.value_id] = value
        return value

    def register_value(self, value: Value) -> Value:
        self._values[value.value_id] = value
        return value

    # -- resolution (reference data/__init__.py:123-207) ------------------
    def get_value(self, ref: str | Value) -> Value:
        """Resolve ``Value`` | ``value:<uuid>`` | ``alias:<name>`` | bare
        alias/uuid.  Aliases persisted in a previous context load lazily from
        the warehouse on first reference."""
        if isinstance(ref, Value):
            return ref
        if ref.startswith("value:"):
            ref = ref[len("value:"):]
        elif ref.startswith("alias:"):
            ref = self._resolve_alias(ref[len("alias:"):])
        elif ref in self._aliases or ref in self._stored_aliases:
            ref = self._resolve_alias(ref)
        if ref not in self._values:
            # cross-restart by-id resolution (reference: any stored value
            # loads by uuid, alias or not — e.g. `data export <uuid>` in a
            # fresh context): warehouse datasets are keyed by value_id.
            # Only a uuid-SHAPED ref may probe the warehouse — an arbitrary
            # ref containing separators ('../x', 'a/b') must not resolve
            # outside it or load an unrelated parquet directory as a value.
            stored = os.path.join(self.warehouse_path, ref)
            if _is_uuid_shaped(ref) and os.path.isdir(stored):
                value = self.load_value(stored)
                self._values.setdefault(value.value_id, value)
                return self._values[value.value_id]
            raise KeyError(f"no value for ref {ref!r}")
        return self._values[ref]

    def _resolve_alias(self, alias: str) -> str:
        if alias in self._aliases:
            return self._aliases[alias]
        if alias in self._stored_aliases:
            value = self.load_value(self._stored_aliases[alias])
            self._aliases[alias] = value.value_id
            return value.value_id
        raise KeyError(f"no alias {alias!r}")

    # -- aliases ----------------------------------------------------------
    def register_alias(self, alias: str, value: Value | str) -> None:
        value_id = value.value_id if isinstance(value, Value) else value
        self._aliases[alias] = value_id

    @property
    def aliases(self) -> dict[str, str]:
        out = {a: f"stored:{p}" for a, p in self._stored_aliases.items()}
        out.update(self._aliases)
        return out

    def _aliases_file(self) -> str:
        return os.path.join(self.warehouse_path, "_aliases.json")

    def _load_stored_aliases(self) -> None:
        self._stored_aliases = read_json(self._aliases_file(), "alias store",
                                         default={})

    def _persist_alias(self, alias: str, path: str) -> None:
        self._stored_aliases[alias] = path
        write_json(self._aliases_file(), self._stored_aliases, indent=1,
                   sort_keys=True)

    # -- persistence ------------------------------------------------------
    def _sidecar(self, path: str) -> str:
        return os.path.join(path, "_kiara_value.json")

    def _read_sidecar(self, path: str) -> dict:
        return read_json(self._sidecar(path), "value sidecar", default={})

    def _load_hash_index(self) -> None:
        for name in os.listdir(self.warehouse_path):
            path = os.path.join(self.warehouse_path, name)
            if os.path.isfile(self._sidecar(path)):
                if h := self._read_sidecar(path).get("content_hash"):
                    self._hash_index[h] = path

    def _scan(self, path: str, info: dict) -> DataFrame:
        """The stored dataset at ``path`` as a pure plan.  The sidecar schema
        spares the footer-inference job a bare ``spark.read.parquet`` runs,
        so a cross-restart cache hit stays at zero Spark jobs."""
        reader = self._context.spark.read
        if info.get("spark_schema"):
            reader = reader.schema(StructType.fromJson(info["spark_schema"]))
        if info.get("ordered"):
            parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
            if len(parts) > 1:
                return functools.reduce(DataFrame.union, (
                    reader.parquet(os.path.join(path, p)) for p in parts))
        return reader.parquet(path)

    def store_value(self, value: Value, alias: str | None = None) -> str:
        """Persist a table value to the warehouse; returns the dataset path.

        A value whose content hash is already known and stored writes
        nothing.  Otherwise its plan runs once, into a staging directory,
        and the hash is taken during that write: dedup-by-hash (reference
        ``_find_existing_value``) then either discards the staging write or
        renames it into place.  The sidecar records pedigree so lineage
        survives restarts.  After a write the value's payload is rebound to
        a scan of the stored dataset."""
        if not isinstance(value.data, DataFrame):
            raise TypeError("store_value currently persists table values only")
        path = self._hash_index.get(value._content_hash)
        if path is None:
            path = self._write(value)
        if alias:
            self.register_alias(alias, value)
            self._persist_alias(alias, path)
        return path

    def _write(self, value: Value) -> str:
        df = value.data
        staging = os.path.join(self.warehouse_path,
                               f"_staging-{_uuid.uuid4().hex}")
        observation = Observation()
        try:
            df.observe(observation, *content_hash_aggregates(df)) \
                .write.parquet(staging)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        # only after the write has run: before it, ``get`` would wait for it
        value._content_hash = content_hash_from_aggregates(df, observation.get)
        ordered = _is_ordered(df)
        path = self._hash_index.get(value._content_hash)
        if path is not None:  # dedup hit: the content is stored already
            shutil.rmtree(staging)
            info = self._read_sidecar(path)
            # the hash ignores row and column order: serve the stored
            # dataset only when neither can differ from this value's
            stored = info.get("spark_schema")
            if (ordered or not stored or StructType.fromJson(stored)
                    .simpleString() != df.schema.simpleString()):
                return path
        else:
            info = {
                "value_id": value.value_id,
                "type": value.schema.type,
                "content_hash": value._content_hash,
                "ordered": ordered,
                "pedigree": {
                    "module_type": value.pedigree.module_type,
                    "module_config": value.pedigree.module_config,
                    "inputs": dict(value.pedigree.inputs),
                },
                "property_links": dict(value.property_links),
                "spark_schema": df.schema.jsonValue(),
            }
            # the sidecar goes in before the rename, so a stored dataset
            # never appears without it
            write_json(self._sidecar(staging), info)
            path = os.path.join(self.warehouse_path, value.value_id)
            # a dataset stored without a hash (an older sidecar) may already
            # hold this value id; os.replace cannot move onto a full directory
            shutil.rmtree(path, ignore_errors=True)
            os.replace(staging, path)
            self._hash_index[value._content_hash] = path
        value.data = self._scan(path, info)
        return path

    def load_value(self, path: str) -> Value:
        """Rehydrate a stored table value (lazy — just a parquet scan plan).
        Pedigree and content hash from the sidecar are restored, so lineage
        survives restarts and a ``data_hash`` key never rescans it."""
        from ..values import ValuePedigree

        info = self._read_sidecar(path)
        df = self._scan(path, info)
        ped = ORPHAN
        if p := info.get("pedigree"):
            if p.get("module_type") and p["module_type"] != ORPHAN.module_type:
                ped = ValuePedigree(
                    module_type=p["module_type"],
                    module_config=p.get("module_config") or {},
                    inputs=p.get("inputs") or {},
                )
        value = Value(
            data=df,
            schema=ValueSchema(type=info.get("type", "table")),
            value_id=info.get("value_id"),
            pedigree=ped,
        )
        value._content_hash = info.get("content_hash")
        # property links survive restarts (resolution works once the
        # referenced property values are themselves registered/loaded)
        value.property_links.update(info.get("property_links") or {})
        self._values[value.value_id] = value
        return value

    # -- matchers (reference models/values/matchers.py:14-69) ---------------
    def value_size(self, value: Value | str) -> int:
        """Approximate payload size in bytes.  DataFrames use Catalyst's
        plan-statistics estimate (metadata-only — no scan, safe at 100 TB);
        scalars use their serialized repr."""
        v = self.get_value(value)
        if isinstance(v.data, DataFrame):
            try:
                return int(v.data._jdf.queryExecution().optimizedPlan()
                           .stats().sizeInBytes())
            except Exception:
                return 0
        try:
            return len(repr(v.data).encode())
        except Exception:
            return 0

    def find_values(
        self,
        data_types: list[str] | str | None = None,
        min_size: int = 0,
        max_size: int | None = None,
        has_alias: bool = False,
        alias_matchers: list[str] | str | None = None,
    ) -> dict[str, Value]:
        """Find registered values by predicate (reference ``ValueMatcher``:
        data_types, min_size/max_size, has_alias, alias glob matchers).
        Returns value_id -> Value, insertion-ordered."""
        import fnmatch

        if isinstance(data_types, str):
            data_types = [data_types]
        if isinstance(alias_matchers, str):
            alias_matchers = [alias_matchers]
        aliases_by_id: dict[str, list[str]] = {}
        for a, vid in self._aliases.items():
            aliases_by_id.setdefault(vid, []).append(a)

        out: dict[str, Value] = {}
        for vid, v in self._values.items():
            if data_types and v.schema.type not in data_types:
                continue
            val_aliases = aliases_by_id.get(vid, [])
            if (has_alias or alias_matchers) and not val_aliases:
                continue
            if alias_matchers and not any(
                    fnmatch.fnmatch(a, pat)
                    for a in val_aliases for pat in alias_matchers):
                continue
            if min_size or max_size is not None:
                size = self.value_size(v)
                if size < min_size:
                    continue
                if max_size is not None and size > max_size:
                    continue
            out[vid] = v
        return out

    # -- destinies (reference data/__init__.py:693-820) --------------------
    def register_destiny(
        self,
        value: Value | str,
        destiny_alias: str,
        operation: str,
        operation_config: dict | None = None,
        input_field: str | None = None,
        extra_inputs: dict | None = None,
        result_field: str | None = None,
    ) -> Destiny:
        """Register a deferred derived-value computation for ``value``.

        Nothing executes here — the destiny records WHICH operation to run
        and HOW to bind the value; ``resolve_destiny`` runs it (through the
        job registry, so repeated resolves are cache hits) and attaches the
        result as a property.  One alias per value (reference raises on
        duplicates too)."""
        v = self.get_value(value)
        per_value = self._destinies.setdefault(v.value_id, {})
        if destiny_alias in per_value:
            raise ValueError(
                f"duplicate destiny {destiny_alias!r} for value {v.value_id}")
        d = Destiny(
            destiny_alias=destiny_alias,
            value_id=v.value_id,
            operation=operation,
            operation_config=operation_config or {},
            input_field=input_field,
            extra_inputs=extra_inputs or {},
            result_field=result_field,
        )
        per_value[destiny_alias] = d
        return d

    def destiny_aliases(self, value: Value | str) -> list[str]:
        v = self.get_value(value)
        return sorted(self._destinies.get(v.value_id, {}))

    def resolve_destiny(self, value: Value | str, destiny_alias: str) -> Value:
        """Execute a registered destiny (once) and attach its result to the
        value as a property; later calls — and property reads via
        ``get_property_value`` — return the attached value without re-run."""
        v = self.get_value(value)
        try:
            d = self._destinies[v.value_id][destiny_alias]
        except KeyError:
            raise KeyError(
                f"no destiny {destiny_alias!r} for value {v.value_id}") from None
        if d.result_value_id is not None:
            return self.get_value(d.result_value_id)

        op = self._context.operation_registry.resolve(d.operation)
        module = self._context.create_module(op.module_type, {
            **op.module_config, **d.operation_config})
        input_field = d.input_field
        if input_field is None:
            candidates = [n for n, s in module.inputs_schema.items()
                          if not s.optional]
            if len(candidates) != 1:
                raise ValueError(
                    f"destiny {destiny_alias!r}: can't infer input field from "
                    f"{sorted(module.inputs_schema)}; pass input_field=")
            input_field = candidates[0]
        outputs = self._context.run_job(
            d.operation, {input_field: v, **d.extra_inputs},
            operation_config=d.operation_config)
        result_field = d.result_field or (
            next(iter(outputs)) if len(outputs) == 1 else None)
        if result_field is None:
            raise ValueError(
                f"destiny {destiny_alias!r}: operation has several outputs "
                f"{sorted(outputs)}; pass result_field=")
        result = outputs[result_field]
        d.result_value_id = result.value_id
        v.add_property(result, destiny_alias)
        return result

    def get_property_value(self, value: Value | str, property_path: str) -> Value:
        """Resolve an attached property back to its value (no execution)."""
        v = self.get_value(value)
        if property_path not in v.property_links:
            raise KeyError(
                f"value {v.value_id} has no property {property_path!r}")
        return self.get_value(v.property_links[property_path])

    # -- lineage (reference value.py:917-925) ------------------------------
    def lineage(self, value: Value | str, _depth: int = 0) -> dict:
        """Walk pedigree records into a nested provenance tree."""
        v = self.get_value(value)
        node = {
            "value_id": v.value_id,
            "type": v.schema.type,
            "module": v.pedigree.module_type,
        }
        if not v.pedigree.is_orphan and _depth < 50:
            node["inputs"] = {
                k: self.lineage(vid, _depth + 1) if vid in self._values else {"value_id": vid}
                for k, vid in v.pedigree.inputs.items()
            }
        return node
