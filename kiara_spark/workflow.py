"""Interactive, versioned workflows.

Re-expresses the reference's ``Workflow``
(``src/kiara/interfaces/python_api/workflow.py:144+``): an incrementally
assembled pipeline with mutable current inputs, step-wise execution, and
persisted state snapshots.  Steps accumulate into the same
``PipelineConfig`` the batch engine runs, so ``process()`` is one lazy
Catalyst plan per run, and the per-step job cache makes successive
``process()`` calls after small edits re-execute only what changed.

Snapshots are JSON records (steps + inputs + output value ids) appended to
``<base_path>/workflows/<alias>.json`` — the restart-surviving history the
reference keeps in its workflow archives.

Versioned state (reference ``workflow.py:1164-1300``): every snapshot gets
a deterministic ``state_id`` (content hash of steps + aliases + scalar
inputs, the analog of ``WorkflowState.instance_id``); ``load_state``
restores a past state into the live workflow (clear steps, re-apply the
snapshot's structure and inputs — reference ``load_state``'s
clear_steps/add_steps/set_inputs choreography), after which ``process()``
re-runs the restored pipeline **through the job cache**, so a rollback
never recomputes steps the original run already executed.
``diff_states`` reports step/input deltas between two state ids.
"""

from __future__ import annotations

import json
import os
import time
from typing import TYPE_CHECKING, Any, Mapping

from pyspark.sql import DataFrame

from .jsonfile import write_json

if TYPE_CHECKING:
    from .context import KiaraContext
    from .values import ValueMap


class Workflow:
    def __init__(self, context: "KiaraContext", alias: str):
        self._context = context
        self.alias = alias
        self._steps: list[dict] = []
        self._input_aliases: dict[str, str] = {}
        self._output_aliases: dict[str, str] = {}
        self._inputs: dict[str, Any] = {}
        self._last_outputs: "ValueMap | None" = None
        self._snapshots: list[dict] = []
        self._path = os.path.join(context.base_path, "workflows", f"{alias}.json")
        if os.path.isfile(self._path):
            with open(self._path) as f:
                saved = json.load(f)
            self._steps = saved.get("steps", [])
            self._input_aliases = saved.get("input_aliases", {})
            self._output_aliases = saved.get("output_aliases", {})
            self._snapshots = saved.get("snapshots", [])
            # restore the last snapshot's scalar inputs so a freshly loaded
            # workflow can process() immediately (reference load_state
            # restores state.inputs; DataFrame inputs don't persist and
            # must be re-set by the caller)
            if self._snapshots:
                self._inputs.update(self._snapshots[-1].get("inputs", {}))

    # -- assembly ---------------------------------------------------------
    def add_step(
        self,
        operation: str,
        step_id: str | None = None,
        module_config: dict | None = None,
        input_links: Mapping[str, str] | None = None,
    ) -> str:
        """Append a step; ``input_links`` values are ``"step_id.field"``."""
        step_id = step_id or f"step_{len(self._steps) + 1}_{operation.replace('.', '_')}"
        if any(s["step_id"] == step_id for s in self._steps):
            raise ValueError(f"duplicate step id {step_id!r}")
        op = self._context.operation_registry.resolve(operation)
        config = dict(op.module_config)
        if module_config:
            config.update(module_config)
        self._steps.append({
            "step_id": step_id,
            "module_type": op.module_type,
            "module_config": config,
            "input_links": dict(input_links or {}),
        })
        return step_id

    def clear_steps(self, *step_ids: str) -> None:
        """Remove the named steps (all steps when none given) — reference
        ``workflow.py:clear_steps``.  Links from surviving steps into a
        removed step become dangling and fail validation at process()."""
        if not step_ids:
            self._steps = []
        else:
            self._steps = [s for s in self._steps
                           if s["step_id"] not in step_ids]

    def set_input(self, name: str, value: Any) -> None:
        self._inputs[name] = value

    def set_inputs(self, **values: Any) -> None:
        self._inputs.update(values)

    def alias_input(self, step_field: str, alias: str) -> None:
        self._input_aliases[step_field] = alias

    def alias_output(self, step_field: str, alias: str) -> None:
        self._output_aliases[step_field] = alias

    # -- execution --------------------------------------------------------
    @property
    def pipeline_config(self) -> dict:
        return {
            "pipeline_name": self.alias,
            "steps": [dict(s) for s in self._steps],
            "input_aliases": dict(self._input_aliases),
            "output_aliases": dict(self._output_aliases),
        }

    def process(self) -> "ValueMap":
        """Run the assembled pipeline over current inputs.  Unchanged steps
        are job-cache hits; only edited/downstream steps execute."""
        if not self._steps:
            raise ValueError("workflow has no steps")
        self._last_outputs = self._context.run_pipeline(
            self.pipeline_config, self._inputs)
        return self._last_outputs

    @property
    def current_outputs(self) -> "ValueMap | None":
        return self._last_outputs

    # -- versioning -------------------------------------------------------
    def _scalar_inputs(self) -> dict:
        return {k: v for k, v in self._inputs.items()
                if not isinstance(v, DataFrame)}

    def _current_state_id(self) -> str:
        """Deterministic content hash of the restorable state — the analog
        of the reference ``WorkflowState.instance_id`` (a cid of the state
        model).  Same structure + aliases + scalar inputs => same id."""
        from .hashing import hash_obj

        return hash_obj({
            "steps": self._steps,
            "input_aliases": self._input_aliases,
            "output_aliases": self._output_aliases,
            "inputs": {k: repr(v) for k, v in
                       sorted(self._scalar_inputs().items())},
        })[:16]

    def snapshot(self, save: bool = True) -> dict:
        """Record (and by default persist) the workflow state: structure,
        scalar inputs, and output value ids of the last run."""
        snap = {
            "state_id": self._current_state_id(),
            "ts": time.time(),
            "steps": [dict(s) for s in self._steps],
            "input_aliases": dict(self._input_aliases),
            "output_aliases": dict(self._output_aliases),
            "inputs": self._scalar_inputs(),
            "outputs": {
                k: v.value_id for k, v in (self._last_outputs or {}).items()
            },
        }
        self._snapshots.append(snap)
        if save:
            os.makedirs(os.path.dirname(self._path), exist_ok=True)
            write_json(self._path, {
                "alias": self.alias,
                "steps": self._steps,
                "input_aliases": self._input_aliases,
                "output_aliases": self._output_aliases,
                "snapshots": self._snapshots,
            }, indent=1, default=str)
        return snap

    @property
    def snapshots(self) -> list[dict]:
        return list(self._snapshots)

    @property
    def all_state_ids(self) -> list[str]:
        """State ids in history order (reference ``all_state_ids``; ours
        keeps recording order rather than sorting, so 'latest' is last)."""
        out: list[str] = []
        for s in self._snapshots:
            sid = s.get("state_id")
            if sid and sid not in out:
                out.append(sid)
        return out

    def get_state(self, state_id: str) -> dict:
        for s in reversed(self._snapshots):
            if s.get("state_id") == state_id:
                return s
        raise KeyError(
            f"workflow {self.alias!r} has no state {state_id!r}; "
            f"available: {', '.join(self.all_state_ids) or '<none>'}")

    def load_state(self, state_id: str | None = None) -> dict | None:
        """Restore a past snapshot into the LIVE workflow (reference
        ``load_state``, workflow.py:1164): clear steps, re-apply the
        snapshot's structure, aliases and scalar inputs.  With no
        ``state_id`` the latest snapshot is used (None when there is no
        history).  The restored pipeline re-runs through the job cache, so
        ``process()`` after a rollback is cache hits for every step the
        original run executed — nothing recomputes."""
        if state_id is None:
            if not self._snapshots:
                return None
            snap = self._snapshots[-1]
        else:
            snap = self.get_state(state_id)
        self._steps = [dict(s) for s in snap.get("steps", [])]
        self._input_aliases = dict(snap.get("input_aliases", {}))
        self._output_aliases = dict(snap.get("output_aliases", {}))
        # DataFrame inputs can't be snapshotted; keep any currently-set
        # non-scalar inputs, overlay the snapshot's scalars
        self._inputs = {k: v for k, v in self._inputs.items()
                        if isinstance(v, DataFrame)}
        self._inputs.update(snap.get("inputs", {}))
        self._last_outputs = None
        return snap

    def diff_states(self, state_a: str, state_b: str) -> dict:
        """Structural diff of two snapshots: steps added/removed/changed
        (by step_id) and inputs changed (old -> new).  The interactive
        analog of comparing two reference WorkflowStates."""
        a, b = self.get_state(state_a), self.get_state(state_b)
        steps_a = {s["step_id"]: s for s in a.get("steps", [])}
        steps_b = {s["step_id"]: s for s in b.get("steps", [])}
        changed = sorted(
            sid for sid in steps_a.keys() & steps_b.keys()
            if steps_a[sid] != steps_b[sid])
        in_a, in_b = a.get("inputs", {}), b.get("inputs", {})
        inputs_changed = {
            k: {"a": in_a.get(k), "b": in_b.get(k)}
            for k in sorted(in_a.keys() | in_b.keys())
            if in_a.get(k) != in_b.get(k)}
        return {
            "steps_added": sorted(steps_b.keys() - steps_a.keys()),
            "steps_removed": sorted(steps_a.keys() - steps_b.keys()),
            "steps_changed": changed,
            "inputs_changed": inputs_changed,
        }
