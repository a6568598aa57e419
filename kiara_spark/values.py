"""Values: immutable, uuid-identified, provenance-carrying data items.

Re-expresses the reference's value model (``src/kiara/models/values/value.py``:
``Value`` :735-832, ``ValuePedigree`` :591-612, ``ValueMap`` :1286-1463) on top
of Spark: a value's payload is either a lazy DataFrame (tabular types — the
common, distributed case) or a driver-side Python object (scalars, files).

Design decisions vs the reference:
- Content hashes for DataFrame values are computed *lazily on demand*
  (``Value.content_hash``) because hashing a 100 TB dataset is a full scan;
  the `value_id` cache strategy (the reference's default) never needs it.
  Saving a value takes its hash during the write, and a value loaded from
  the warehouse carries the hash its sidecar recorded, so neither scans.
- After a save, a value's payload is rebound to a scan of its stored files
  (``DataRegistry.store_value``): later consumers read what was written
  instead of re-running the plan.  The content is unchanged.
- Pedigree is recorded eagerly at creation — it is metadata-only and cheap.
"""

from __future__ import annotations

import uuid as _uuid
from dataclasses import dataclass, field
from typing import Any, Iterator, Mapping

from pyspark.sql import DataFrame

from .hashing import hash_obj

ORPHAN_PEDIGREE_MODULE = "orphan"  # reference: ORPHAN at value.py:1604-1610


@dataclass(frozen=True)
class ValueSchema:
    """Named (nominal) type + config — reference value_schema.py:17-97.
    ``is_constant`` marks a field fixed by module_config constants
    (reference utils/values.py:79-111): its default is the constant value
    and user-supplied inputs for it are rejected."""

    type: str
    type_config: dict = field(default_factory=dict)
    optional: bool = False
    default: Any = None
    doc: str = ""
    is_constant: bool = False


@dataclass(frozen=True)
class ValuePedigree:
    """Provenance: which module + inputs produced this value
    (reference value.py:591-612)."""

    module_type: str
    module_config: dict
    inputs: Mapping[str, str]  # field name -> value_id

    @property
    def is_orphan(self) -> bool:
        return self.module_type == ORPHAN_PEDIGREE_MODULE


ORPHAN = ValuePedigree(module_type=ORPHAN_PEDIGREE_MODULE, module_config={}, inputs={})


class Value:
    """An immutable engine value.

    ``data`` is a DataFrame for tabular types, else a plain Python object.
    """

    def __init__(
        self,
        data: Any,
        schema: ValueSchema,
        pedigree: ValuePedigree = ORPHAN,
        value_id: str | None = None,
        properties: dict | None = None,
    ):
        self.value_id: str = value_id or str(_uuid.uuid4())
        self.data = data
        self.schema = schema
        self.pedigree = pedigree
        self.properties: dict = properties or {}
        # derived-value attachment (reference value.py:754-820):
        # property_links maps property_path -> value_id of the derived value;
        # destiny_backlinks maps derived value_id -> alias on the origin side.
        self.property_links: dict[str, str] = {}
        self.destiny_backlinks: dict[str, str] = {}
        self._content_hash: str | None = None

    @property
    def data_type(self) -> str:
        return self.schema.type

    @property
    def is_table(self) -> bool:
        return isinstance(self.data, DataFrame)

    def content_hash(self) -> str:
        """Deterministic content hash; full scan for DataFrames (lazy, cached)."""
        if self._content_hash is None:
            if self.is_table:
                from .hashing import dataframe_content_hash

                self._content_hash = dataframe_content_hash(self.data)
            else:
                self._content_hash = hash_obj(
                    {"type": self.schema.type, "data": self.data}
                )
        return self._content_hash

    def add_property(
        self,
        value: "Value | str",
        property_path: str,
        add_origin_to_property_value: bool = True,
    ) -> None:
        """Attach another value as a named property of this one (reference
        ``Value.add_property``, value.py:767-811).  Duplicate paths are an
        error — properties are immutable once attached."""
        if property_path in self.property_links:
            raise ValueError(
                f"property {property_path!r} already set on value {self.value_id}")
        vid = value.value_id if isinstance(value, Value) else value
        self.property_links[property_path] = vid
        if add_origin_to_property_value and isinstance(value, Value):
            value.destiny_backlinks[self.value_id] = property_path

    @property
    def property_names(self) -> list[str]:
        return sorted(self.property_links)

    def __repr__(self) -> str:  # pragma: no cover
        return f"Value(id={self.value_id[:8]}, type={self.schema.type})"


class ValueMap(Mapping[str, Value]):
    """Ordered field-name -> Value container (reference value.py:1286-1463)."""

    def __init__(self, values: Mapping[str, Value]):
        self._values = dict(values)

    def __getitem__(self, key: str) -> Value:
        return self._values[key]

    def __iter__(self) -> Iterator[str]:
        return iter(self._values)

    def __len__(self) -> int:
        return len(self._values)

    def get_value_data(self, key: str) -> Any:
        return self._values[key].data

    @property
    def data(self) -> dict:
        """Convenience: field -> raw payload."""
        return {k: v.data for k, v in self._values.items()}
