"""Module (operator) framework.

Re-expresses the reference's ``KiaraModule`` contract
(``src/kiara/modules/__init__.py:294-583``): a module declares typed
input/output schemas, is configured by a dict, and implements ``process``.
Characteristics (``:268-291``) gate the job cache: non-idempotent modules
(imports) are never cache-hit, exactly like the reference's check at
``src/kiara/registries/jobs/__init__.py:466-472``.

Spark stance: ``process`` composes *lazy* DataFrames, so a pipeline's steps
compose into one logical plan and Catalyst optimizes across step boundaries.
The exceptions are eager: iterative and multiply consumed intermediates are
materialized with ``cut_lineage`` while the module builds its outputs, and a
few operators collect small results to the driver.

Built-in modules are declared with the ``_simple_module`` factory; their
config keys reach the operator function through ``config_kwargs``, so an
unset key gets the function's own default.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Mapping

from .hashing import manifest_hash
from .values import Value, ValueMap, ValuePedigree, ValueSchema


class InvalidInputsError(ValueError):
    """Raised when required inputs are missing/invalid; names the fields
    (mirrors the reference's InvalidValuesException)."""

    def __init__(self, invalid: dict[str, str]):
        self.invalid = invalid
        super().__init__(f"invalid inputs: {invalid}")


@dataclass(frozen=True)
class ModuleCharacteristics:
    """Reference ``src/kiara/modules/__init__.py:268-291``.

    ``is_source`` refines ``is_idempotent=False`` for EXTERNAL READS
    (file/folder imports): a source is non-idempotent because the outside
    world can change under the same inputs, but it is deterministic GIVEN a
    fingerprint of that outside state — so a pipeline-level cache may
    include source steps as long as it binds the fingerprint of every
    path they read (pipeline/runner.py).  Side-effect sinks (exports) stay
    plainly non-idempotent: serving them from cache would skip the write."""

    is_idempotent: bool = True
    is_internal: bool = False
    unique_result_values: bool = False
    is_source: bool = False


class KiaraModule:
    """Operator base class.

    Built-in modules are declared with ``_simple_module``, which returns a
    subclass.  Subclass directly (set ``_module_type_name`` and implement
    ``create_inputs_schema`` / ``create_outputs_schema`` / ``process``) when
    a schema depends on the module config or the module needs methods of its
    own; a direct subclass is also the plugin contract.
    """

    _module_type_name: str = "module"
    _characteristics = ModuleCharacteristics()

    def __init__(self, module_config: dict | None = None):
        self.config: dict = dict(module_config or {})
        self._inputs_schema: dict[str, ValueSchema] | None = None
        self._outputs_schema: dict[str, ValueSchema] | None = None

    # -- schema -----------------------------------------------------------
    def create_inputs_schema(self) -> Mapping[str, ValueSchema | dict]:
        raise NotImplementedError

    def create_outputs_schema(self) -> Mapping[str, ValueSchema | dict]:
        raise NotImplementedError

    @staticmethod
    def _coerce(schema: Mapping[str, ValueSchema | dict]) -> dict[str, ValueSchema]:
        out = {}
        for k, v in schema.items():
            out[k] = v if isinstance(v, ValueSchema) else ValueSchema(**v)
        return out

    def _overlay_constants_and_defaults(
        self, schemas: dict[str, ValueSchema]
    ) -> dict[str, ValueSchema]:
        """Apply module_config ``constants`` / ``defaults`` onto the input
        schema (reference ``modules/__init__.py:186-203`` +
        ``utils/values.py:79-111``): names must exist in the schema, a field
        can't be in both, defaults are overridable, constants are fixed."""
        from dataclasses import replace

        constants = self.config.get("constants") or {}
        defaults = self.config.get("defaults") or {}
        for k in (*constants, *defaults):
            if k not in schemas:
                raise InvalidInputsError({
                    k: "invalid constant/default field name; available: "
                       + ", ".join(sorted(schemas))})
        both = set(constants) & set(defaults)
        if both:
            raise InvalidInputsError(
                {k: "set in both 'constants' and 'defaults'" for k in both})
        out = {}
        for k, v in schemas.items():
            if k in constants:
                out[k] = replace(v, default=constants[k], is_constant=True)
            elif k in defaults:
                out[k] = replace(v, default=defaults[k])
            else:
                out[k] = v
        return out

    @property
    def inputs_schema(self) -> dict[str, ValueSchema]:
        if self._inputs_schema is None:
            self._inputs_schema = self._overlay_constants_and_defaults(
                self._coerce(self.create_inputs_schema()))
        return self._inputs_schema

    @property
    def outputs_schema(self) -> dict[str, ValueSchema]:
        if self._outputs_schema is None:
            self._outputs_schema = self._coerce(self.create_outputs_schema())
        return self._outputs_schema

    # -- identity ---------------------------------------------------------
    @property
    def module_type(self) -> str:
        return self._module_type_name

    @property
    def characteristics(self) -> ModuleCharacteristics:
        return self._characteristics

    @property
    def manifest_hash(self) -> str:
        return manifest_hash(self.module_type, self.config)

    # -- execution --------------------------------------------------------
    def process(self, inputs: ValueMap, context: "Any") -> dict[str, Any]:
        """Return field -> raw payload; the runner wraps them into Values."""
        raise NotImplementedError

    def run(self, inputs: ValueMap, context: "Any") -> ValueMap:
        """Validate inputs against schema, execute, wrap outputs with pedigree."""
        invalid: dict[str, str] = {}
        for field_name, schema in self.inputs_schema.items():
            if field_name not in inputs:
                if schema.optional or schema.default is not None:
                    continue
                # config binds before inputs (same precedence as _cfg()):
                # a field the module was configured with is already satisfied
                if field_name in self.config:
                    continue
                invalid[field_name] = "missing required input"
        if invalid:
            raise InvalidInputsError(invalid)

        raw = self.process(inputs, context)

        pedigree = ValuePedigree(
            module_type=self.module_type,
            module_config=self.config,
            inputs={k: v.value_id for k, v in inputs.items()},
        )
        out_values = {}
        for field_name, schema in self.outputs_schema.items():
            if field_name not in raw:
                raise RuntimeError(
                    f"module {self.module_type} did not produce output {field_name!r}"
                )
            out_values[field_name] = Value(
                data=raw[field_name], schema=schema, pedigree=pedigree
            )
        return ValueMap(out_values)


TABLE = {"type": "table"}
STRING = {"type": "string"}
DICT = {"type": "dict"}


def _simple_module(module_type: str, inputs: dict, outputs: dict, fn, doc: str = "",
                   characteristics: ModuleCharacteristics | None = None):
    """Factory: declaratively minted operator module (mirrors the reference's
    dynamically-discovered method families, ``filter.py:22-47`` etc.).

    Returns a ``KiaraModule`` subclass whose ``process`` is
    ``fn(self, inputs, context)``.  ``doc`` becomes the class docstring, so
    a module declared without one documents as "" instead of inheriting the
    base-class text."""

    class _Mod(KiaraModule):
        _module_type_name = module_type
        __doc__ = doc

        def create_inputs_schema(self):
            return inputs

        def create_outputs_schema(self):
            return outputs

        def process(self, im: ValueMap, context):
            return fn(self, im, context)

    if characteristics:
        _Mod._characteristics = characteristics
    _Mod.__name__ = "Mod_" + module_type.replace(".", "_")
    return _Mod


def _cfg(self, im: ValueMap, *names):
    """Resolve params from module config first, then inputs."""
    out = []
    for n in names:
        if n in self.config:
            out.append(self.config[n])
        elif n in im:
            out.append(im[n].data)
        else:
            out.append(None)
    return out


def config_kwargs(self, *names: str, **renamed: str) -> dict:
    """Operator-function keyword arguments taken from the module config.

    ``names`` are config keys passed under their own name; ``renamed`` maps
    a function parameter to the config key that feeds it
    (``id_col="id_column"``).  Only keys the config actually sets are
    returned, so an unset key falls through to the operator function's own
    default: the function signature is the single source of defaults."""
    pairs = [(n, n) for n in names] + list(renamed.items())
    return {param: self.config[key] for param, key in pairs if key in self.config}


class ModuleRegistry:
    """Name -> module class (reference ``src/kiara/registries/modules/__init__.py``)."""

    def __init__(self):
        self._modules: dict[str, type[KiaraModule]] = {}

    def register(self, cls: type[KiaraModule]) -> type[KiaraModule]:
        self._modules[cls._module_type_name] = cls
        return cls

    def create_module(self, module_type: str, module_config: dict | None = None) -> KiaraModule:
        if module_type not in self._modules:
            raise KeyError(f"unknown module type: {module_type!r}")
        return self._modules[module_type](module_config)

    @property
    def module_type_names(self) -> list[str]:
        return sorted(self._modules)

    def __contains__(self, name: str) -> bool:
        return name in self._modules
