"""Driver-side (de)serialization operators.

Mirrors the reference's ``included_core_modules/serialization.py`` family —
``unpickle.value`` (:111-139), ``load.bytes`` (:142-163), ``load.string``
(:166-188), ``deserialize.from_json`` (:229-268) — plus the generic
``DeserializeValueModule`` convention (``to__<profile>`` methods, :46-108).

These values are intentionally NOT distributed: like the reference, pickled
``any``/python objects live on the driver (SURVEY §7 'genuinely hard' (c));
table-typed data never flows through this path — it rehydrates via the
warehouse's Parquet scans instead.
"""

from __future__ import annotations

import json
import pickle

from ..modules import STRING, TABLE, KiaraModule, _simple_module
from ..operations import Operation
from ..values import ValueMap

BYTES = {"type": "bytes"}
ANY = {"type": "any"}


class DeserializeValueModule(KiaraModule):
    """Family base: subclasses provide ``to__<profile>(data)`` methods; the
    profile is picked by config (reference ``serialization.py:46-108``
    discovers them the same way)."""

    _module_type_name = "deserialize.value"

    def create_inputs_schema(self):
        return {"value": ANY}

    def create_outputs_schema(self):
        return {"python_object": ANY}

    @classmethod
    def profiles(cls) -> list[str]:
        return sorted(
            m[len("to__"):] for m in dir(cls)
            if m.startswith("to__") and callable(getattr(cls, m))
        )

    def process(self, inputs: ValueMap, context):
        profile = self.config.get("profile") or (self.profiles() or [None])[0]
        fn = getattr(self, f"to__{profile}", None)
        if fn is None:
            raise ValueError(
                f"unknown deserialization profile {profile!r}; "
                f"available: {self.profiles()}")
        return {"python_object": fn(inputs["value"].data)}


class UnpickleValue(DeserializeValueModule):
    """Reference ``serialization.py:111-139``."""

    _module_type_name = "unpickle.value"

    def to__pickle(self, data):
        if not isinstance(data, (bytes, bytearray)):
            raise TypeError("unpickle.value expects bytes")
        return pickle.loads(data)


class LoadBytes(DeserializeValueModule):
    """Reference ``serialization.py:142-163``."""

    _module_type_name = "load.bytes"

    def create_inputs_schema(self):
        return {"value": BYTES}

    def to__raw(self, data):
        return bytes(data)


class LoadString(DeserializeValueModule):
    """Reference ``serialization.py:166-188``."""

    _module_type_name = "load.string"

    def to__string(self, data):
        return data.decode("utf-8") if isinstance(data, (bytes, bytearray)) else str(data)


class DeserializeFromJson(DeserializeValueModule):
    """Reference ``serialization.py:229-268`` (config ``result_path`` drills
    into the decoded document)."""

    _module_type_name = "deserialize.from_json"

    def to__json(self, data):
        if isinstance(data, (bytes, bytearray)):
            data = data.decode("utf-8")
        obj = json.loads(data)
        if path := self.config.get("result_path"):
            for part in path.split("."):
                obj = obj[part]
        return obj


class LoadInternalModel(DeserializeValueModule):
    """Reference ``serialization.py:191-220`` — rehydrate a registered model
    by id.  Our 'models' are plain dataclass-ish dicts: the payload carries
    ``{"model_id": ..., "data": {...}}`` and the registered constructor
    rebuilds the object."""

    _module_type_name = "load.internal_model"

    MODEL_REGISTRY: dict = {}  # model_id -> constructor

    def to__model(self, data):
        if isinstance(data, (bytes, bytearray)):
            data = data.decode("utf-8")
        if isinstance(data, str):
            data = json.loads(data)
        model_id = data["model_id"]
        ctor = self.MODEL_REGISTRY.get(model_id, dict)
        return ctor(**data.get("data", {}))


DeserializeFile = _simple_module(
    "deserialize.file", {"path": STRING}, {"table": TABLE},
    lambda self, im, ctx: {"table": ctx.spark.read.parquet(im["path"].data)},
    doc="""Reference ``filesystem.py:87-133`` (deserialize.file): rehydrate a
    stored file/dataset value from a warehouse path.""",
)


MODULES = [UnpickleValue, LoadBytes, LoadString, DeserializeFromJson,
           LoadInternalModel, DeserializeFile]
OPERATIONS = [
    Operation("unpickle.value", "unpickle.value", operation_type="deserialize"),
    Operation("load.bytes", "load.bytes", operation_type="deserialize"),
    Operation("load.string", "load.string", operation_type="deserialize"),
    Operation("deserialize.from_json", "deserialize.from_json",
              operation_type="deserialize"),
    Operation("load.internal_model", "load.internal_model",
              operation_type="deserialize"),
    Operation("deserialize.file", "deserialize.file",
              operation_type="deserialize"),
]
