"""Span tracer for the traced run, installed from the benchmark's side.

``Tracer.install`` wraps the public entry points of each ``kiara_spark``
layer (see ``TARGETS``) so that every call records a span: name, start,
end, parent span and request id.  Spans stay in memory until
``layer_metrics`` turns them into per-layer metrics at the end of the run.
Every span opens a Spark job group named after its id, so Spark jobs are
attributed to the innermost open span; their stage metrics are then read
from the JVM ``AppStatusStore`` and the SQL status store over py4j.

Nothing in ``kiara_spark`` is edited: the wrappers replace module and
class attributes for the life of the tracer and ``uninstall`` restores
them.
"""

from __future__ import annotations

import functools
import importlib
import os
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute path, span name).  Functions imported by name into
# other kiara_spark modules are patched there too (see _rebind).
TARGETS = [
    ("kiara_spark.api", "KiaraAPI.run_job", "api.run_job"),
    ("kiara_spark.api", "KiaraAPI.run_pipeline", "api.run_pipeline"),
    ("kiara_spark.pipeline.runner", "run_pipeline", "pipeline.run_pipeline"),
    ("kiara_spark.registries.jobs", "JobRegistry.execute_job", "jobs.execute_job"),
    ("kiara_spark.registries.jobs", "JobRegistry.execute_composite",
     "jobs.execute_composite"),
    ("kiara_spark.registries.jobs", "JobRegistry.persist_record",
     "jobs.persist_record"),
    ("kiara_spark.modules", "KiaraModule.run", "modules.run"),
    ("kiara_spark.registries.data", "DataRegistry.register_data",
     "data.register_data"),
    ("kiara_spark.registries.data", "DataRegistry.store_value", "data.store_value"),
    ("kiara_spark.registries.data", "DataRegistry.load_value", "data.load_value"),
    ("kiara_spark.hashing", "job_hash", "hashing.job_hash"),
    ("kiara_spark.hashing", "dataframe_content_hash", "hashing.content_hash"),
    ("kiara_spark.io", "cut_lineage", "io.cut_lineage"),
    ("kiara_spark.io", "load_table", "io.load_table"),
]

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
               "TiB": 1024 ** 4}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.request: int | None = None
        self.group_prefix = f"bench-{os.getpid()}-"
        self.plan: list[dict] = []  # QueryPlanningTracker captures

    # -- spans -------------------------------------------------------------
    def open(self, name: str) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(len(self.spans), name, parent, self.request,
                    time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(f"{self.group_prefix}{span.span_id}", name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            outer = self._stack[-1]
            self.sc.setJobGroup(f"{self.group_prefix}{outer.span_id}",
                                outer.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        span = self.open(name)
        try:
            yield span
        finally:
            self.close(span)

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer.open(name)
            before = _before(name, args)
            try:
                result = fn(*args, **kwargs)
                _annotate(span, name, args, result, before)
                return result
            finally:
                tracer.close(span)

        return wrapper

    # -- install / uninstall -------------------------------------------------
    def install(self) -> None:
        for mod_name, path, name in TARGETS:
            mod = importlib.import_module(mod_name)
            owner, attr = mod, path
            if "." in path:
                cls_name, attr = path.split(".")
                owner = getattr(mod, cls_name)
            original = owner.__dict__[attr]
            wrapped = self._wrap(original, name)
            self._set(owner, attr, wrapped)
            if owner is mod:
                self._rebind(original, wrapped)

    def _set(self, owner, attr, value) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def _rebind(self, original, wrapped) -> None:
        """Patch every ``from .x import f`` copy held by kiara_spark modules."""
        for name, mod in list(sys.modules.items()):
            if not name.startswith("kiara_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._set(mod, attr, wrapped)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, value = self._patched.pop()
            setattr(owner, attr, value)

    # -- plan capture (benchmark's own consume calls) ----------------------
    def capture_plan(self, df) -> None:
        """Plan ``df`` afresh and record its QueryPlanningTracker phases.

        A new Dataset over ``df`` gets its own QueryExecution, so its phases
        cover this planning only (the noop write plans again, as it would
        untraced)."""
        qe = df.select("*")._jdf.queryExecution()
        tree = qe.executedPlan().treeString()
        phases = qe.tracker().phases()
        it = phases.iterator()
        ms = 0
        while it.hasNext():
            ms += it.next()._2().durationMs()
        self.plan.append({"plan_s": ms / 1000.0,
                          "nodes": len(tree.splitlines())})


def _before(name: str, args):
    if name == "data.store_value":
        return len(args[0]._hash_index)
    return None


def _annotate(span: Span, name: str, args, result, before) -> None:
    """Record the facts a layer metric needs from a call's result."""
    if name in ("jobs.execute_job", "jobs.execute_composite"):
        span.attrs["hit"] = bool(result.cache_hit)
        span.attrs["stored"] = result.cache_hit and result.job_id.startswith(
            "stored-")
    elif name == "jobs.persist_record":
        store = getattr(args[0], "_store_file", None)
        if store and os.path.isfile(store):
            span.attrs["store_bytes"] = os.path.getsize(store)
    elif name == "data.store_value":
        # a write adds the new content hash to the index; a dedup hit does not
        span.attrs["wrote"] = len(args[0]._hash_index) > before


# -- Spark metrics -----------------------------------------------------------

def _parse_metric(text: str, units: dict) -> float:
    """Total of a formatted SQL metric ('1.5 KiB', 'total (...)\\n9.7 s (...)')."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * units.get(m.group(2), 0.0)


def spark_jobs(tracer: Tracer) -> dict[int, dict]:
    """span id -> totals of the Spark jobs run under that span's job group."""
    status = tracer.sc.statusTracker()
    store = tracer.sc._jsc.sc().statusStore()
    out: dict[int, dict] = {}
    for span in tracer.spans:
        ids = status.getJobIdsForGroup(f"{tracer.group_prefix}{span.span_id}")
        if not ids:
            continue
        acc = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
               "input_bytes": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "failed_tasks": 0}
        for jid in ids:
            job = store.job(jid)
            acc["jobs"] += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                stage = store.lastStageAttempt(sids.apply(k))
                if stage.status().toString() == "SKIPPED":
                    continue
                acc["stages"] += 1
                acc["tasks"] += stage.numTasks()
                acc["task_s"] += stage.executorRunTime() / 1000.0
                acc["input_bytes"] += stage.inputBytes()
                acc["shuffle_read_bytes"] += stage.shuffleReadBytes()
                acc["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                acc["spill_bytes"] += (stage.memoryBytesSpilled()
                                       + stage.diskBytesSpilled())
                acc["failed_tasks"] += stage.numFailedTasks()
        out[span.span_id] = acc
    return out


def python_udf_metrics(spark, first_execution: int) -> dict:
    """Sum the Python-worker SQL metrics over the plan nodes that run Python
    (those with a 'data sent to Python workers' metric) of every SQL
    execution from ``first_execution`` on."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    totals = {"nodes": 0, "sent": 0.0, "received": 0.0, "rows": 0.0,
              "boot_s": 0.0}
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid < first_execution:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            metrics = nodes.apply(n).metrics()
            by_name = {}
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                by_name[m.name()] = v.get() if v.isDefined() else "0"
            if "data sent to Python workers" not in by_name:
                continue
            totals["nodes"] += 1
            totals["sent"] += _parse_metric(
                by_name["data sent to Python workers"], _SIZE_UNITS)
            totals["received"] += _parse_metric(
                by_name.get("data returned from Python workers", "0"),
                _SIZE_UNITS)
            totals["rows"] += _parse_metric(
                by_name.get("number of output rows", "0") + " rows",
                {"rows": 1.0})
            totals["boot_s"] += _parse_metric(
                by_name.get("time to start Python workers", "0"), _TIME_UNITS)
    return totals


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    last = -1
    for i in range(execs.size()):
        last = max(last, execs.apply(i).executionId())
    return last


# -- layer metrics -----------------------------------------------------------

def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    child = {s.span_id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.span_id: (s.end - s.start) - child[s.span_id] for s in spans}


def _inside(s: Span, name: str, by_id: dict[int, Span]) -> bool:
    """Whether a span named ``name`` encloses ``s``."""
    p = s.parent
    while p is not None:
        if by_id[p].name == name:
            return True
        p = by_id[p].parent
    return False


def _total(spans: list[Span], by_id, name: str, keep=lambda s: True) -> float:
    """Time in spans named ``name``, counting nested calls once."""
    return sum(s.end - s.start for s in spans
               if s.name == name and keep(s) and not _inside(s, name, by_id))


def layer_metrics(tracer: Tracer, jobs: dict[int, dict], udf: dict) -> dict:
    spans = tracer.spans
    by_id = {s.span_id: s for s in spans}
    selft = self_times(spans)

    def under(s: Span, name: str) -> bool:
        return s.name == name or _inside(s, name, by_id)

    def named(name):
        return [s for s in spans if s.name == name]

    def total(name):
        return _total(spans, by_id, name)

    def job_sum(pred, key):
        return sum(j[key] for sid, j in jobs.items() if pred(by_id[sid]))

    m: dict[str, float] = {}
    m["api.self_s"] = sum(selft[s.span_id] for s in spans
                          if s.name.startswith("api."))
    m["pipeline.self_s"] = sum(selft[s.span_id]
                               for s in named("pipeline.run_pipeline"))
    m["pipeline.steps"] = sum(1 for s in named("jobs.execute_job")
                              if under(s, "pipeline.run_pipeline"))
    probes = named("jobs.execute_job") + named("jobs.execute_composite")
    m["jobs.probe_self_s"] = sum(selft[s.span_id] for s in probes)
    m["jobs.hits"] = sum(1 for s in probes if s.attrs.get("hit"))
    m["jobs.misses"] = sum(1 for s in probes if not s.attrs.get("hit"))
    m["jobs.hit_ratio"] = m["jobs.hits"] / max(1, len(probes))
    m["jobs.stored_hits"] = sum(1 for s in probes if s.attrs.get("stored"))
    m["hashing.job_hash_calls"] = len(named("hashing.job_hash"))
    m["hashing.job_hash_s"] = total("hashing.job_hash")

    def in_build(s):
        return under(s, "modules.run")

    m["modules.build_s"] = total("modules.run")
    m["modules.build_jobs"] = job_sum(in_build, "jobs")
    m["modules.build_tasks"] = job_sum(in_build, "tasks")
    m["modules.build_task_s"] = job_sum(in_build, "task_s")
    m["io.cut_lineage_calls"] = len(named("io.cut_lineage"))
    m["io.cut_lineage_s"] = total("io.cut_lineage")
    m["io.load_table_calls"] = len(named("io.load_table"))

    def in_consume(s):
        return under(s, "bench.consume")

    m["spark.plan_s"] = sum(p["plan_s"] for p in tracer.plan)
    m["spark.plan_nodes"] = sum(p["nodes"] for p in tracer.plan)
    m["spark.exec_s"] = total("bench.consume")
    m["spark.exec_jobs"] = job_sum(in_consume, "jobs")
    m["spark.exec_stages"] = job_sum(in_consume, "stages")
    m["spark.exec_tasks"] = job_sum(in_consume, "tasks")
    m["spark.task_s"] = job_sum(in_consume, "task_s")
    everything = lambda s: True  # noqa: E731
    m["spark.jobs"] = job_sum(everything, "jobs")
    m["spark.input_bytes"] = job_sum(everything, "input_bytes")
    m["spark.shuffle_read_bytes"] = job_sum(everything, "shuffle_read_bytes")
    m["spark.shuffle_write_bytes"] = job_sum(everything, "shuffle_write_bytes")
    m["spark.spill_bytes"] = job_sum(everything, "spill_bytes")
    m["spark.failed_tasks"] = job_sum(everything, "failed_tasks")

    m["udf.python_nodes"] = udf["nodes"]
    m["udf.python_data_sent_bytes"] = udf["sent"]
    m["udf.python_data_received_bytes"] = udf["received"]
    m["udf.python_rows_received"] = udf["rows"]
    m["udf.python_boot_s"] = udf["boot_s"]

    m["hashing.content_hash_calls"] = len(named("hashing.content_hash"))
    m["hashing.content_hash_s"] = total("hashing.content_hash")
    m["hashing.content_hash_jobs"] = job_sum(
        lambda s: under(s, "hashing.content_hash"), "jobs")
    stores = named("data.store_value")
    m["data.store_calls"] = len(stores)
    m["data.store_s"] = total("data.store_value")
    m["data.store_dedup_hits"] = sum(1 for s in stores
                                     if not s.attrs.get("wrote", True))
    m["jobs.persist_calls"] = len(named("jobs.persist_record"))
    m["jobs.persist_s"] = total("jobs.persist_record")
    m["jobs.store_file_bytes_written"] = sum(
        s.attrs.get("store_bytes", 0) for s in named("jobs.persist_record"))
    m["data.load_calls"] = len(named("data.load_value"))
    m["data.load_s"] = total("data.load_value")
    m["data.register_calls"] = len(named("data.register_data"))
    m["data.register_s"] = total("data.register_data")
    return m


def layer_shares(spans: list[Span], hit: dict[int, bool]) -> dict:
    """Share of request time spent building DataFrames (``modules.run``),
    executing the consumption (``bench.consume``), re-planning for the plan
    capture (``bench.plan``, a tracing cost), writing and reading the
    stores (``persist_record``, ``store_value``, ``load_value``) and in
    everything else (orchestration); for all requests, and for cache misses
    and hits apart.  ``hit`` maps request id to cache hit."""
    by_id = {s.span_id: s for s in spans}

    def shares(keep) -> dict:
        def dur(name, outside=None):
            return _total(spans, by_id, name, lambda s: keep(s.request) and not (
                outside and _inside(s, outside, by_id)))

        total = dur("bench.request")
        parts = {"construction": dur("modules.run"),
                 "execution": dur("bench.consume"),
                 "plan_capture": dur("bench.plan"),
                 "storage": dur("jobs.persist_record") + dur("data.load_value")
                 + dur("data.store_value", outside="jobs.persist_record")}
        parts["orchestration"] = total - sum(parts.values())
        return {k: v / total for k, v in parts.items()} if total else {}

    return {"all": shares(lambda r: r is not None),
            "misses": shares(lambda r: r is not None and not hit.get(r)),
            "hits": shares(lambda r: r is not None and hit.get(r, False))}
