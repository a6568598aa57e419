"""End-to-end benchmark of kiara_spark through KiaraAPI.run_job/run_pipeline.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see NOTES.md for why each exists):

- ``batch``       an example pipeline and three iterative operators in a
                  fresh context, each a miss and then in-session hits,
                  batch (noop write) consumption;
- ``interactive`` SQL and filter requests with Zipf-like repeats in one
                  context, 20-row page consumption;
- ``persist``     saved requests under the data_hash cache, then a new
                  context on the same home replays them.

A run's request list is fixed by the workload, ``--seed`` and
``--seconds`` (at nominal rates that take about ``--seconds`` on 4 cores).
With ``--trace 0`` the last stdout line is a JSON object holding every
end-to-end metric; with ``--trace 1`` the list runs as a warm-up, untraced,
traced and untraced again, and the line holds every per-layer metric.  Every output is
checked outside the timed region; a failed check makes the run exit 1.
All temporary state (fixtures, context homes, Spark warehouse and local
dirs) lives under ``perfbench/.work/`` and is removed at exit; a detail
file per run goes to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import itertools
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# fixture tables each workload registers as aliases (pipelines read files)
WORKLOADS = {
    "batch": ["orders", "lineitem"],
    "interactive": ["orders", "lineitem", "events", "customer"],
    "persist": ["orders", "lineitem", "events", "customer"],
}
DATA_SEED = 20240101  # fixture tables are fixed; --seed shapes the requests
SETUP_REPEATS = 3
# A run's request list is fixed by --seconds at these nominal rates (about
# right on 4 cores), not by the clock, so every run of a workload has the
# same mix of hits and misses and the same tail percentile.
INTERACTIVE_PER_S = 6.0  # interactive: 90 requests at --seconds 15
SAVES_PER_S = 0.6        # persist: 9 saves at --seconds 15
# Replays keep saves a quarter of persist's requests, clear of its median.
PERSIST_REPLAYS = 3      # persist: replay rounds after reopening


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="fixture scale factor (0.01: 60,000 lineitem rows)")
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: Path) -> None:
    """Point every temporary location at ``work`` before Spark starts."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
        # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS":
            f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    })
    os.environ.pop("KIARA_SPARK_HOME", None)
    os.environ.pop("KIARA_SPARK_CHECKPOINT_DIR", None)
    os.environ.pop("KIARA_SPARK_CACHE", None)
    time.tzset()


def spark_conf(work: Path) -> dict:
    # the traced run reads every job, stage and SQL execution of a pass
    # back from the status stores, so they must all be retained
    return {
        "spark.local.dir": str(work / "spark-local"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_spark(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    proc = jvm_proc()
    try:
        spark.stop()
        if proc is not None:
            SparkContext._gateway.shutdown()
    except Exception as e:  # the JVM is stopped below either way
        print(f"# spark shutdown: {e!r}", file=sys.stderr)
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def tail_latency(xs: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it (nearest rank);
    the maximum when there are too few samples for any."""
    s = sorted(xs)
    n = len(s)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            return s[max(0, math.ceil(p / 100 * n) - 1)], f"p{p:g}"
    return s[-1], "max"


class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.spark = None
        self.cold: dict = {}
        self.paths: dict[str, str] = {}
        self.setup: list[dict] = []
        self.canary: list[dict] = []
        self.homes = 0
        self.phases: dict[str, float] = {}
        self._t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record how long the run spent since the previous phase."""
        now = time.perf_counter()
        self.phases[name] = now - self._t
        self._t = now

    # -- set-up ------------------------------------------------------------
    def set_up(self) -> None:
        import datagen

        self.paths = datagen.write_tables(str(self.work / "data"),
                                          self.args.sf, DATA_SEED)
        self.cold = self._one_setup()
        for _ in range(SETUP_REPEATS):
            self.spark.stop()
            self.setup.append(self._one_setup())

    def _one_setup(self) -> dict:
        from kiara_spark.context import KiaraContext
        from kiara_spark.session import build_spark

        t0 = time.perf_counter()
        self.spark = build_spark(extra_conf=spark_conf(self.work))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        ctx = KiaraContext(spark=self.spark, base_path=self.new_home())
        t2 = time.perf_counter()
        self.register_fixtures(ctx)
        t3 = time.perf_counter()
        return {"session_s": t1 - t0, "context_s": t2 - t1,
                "fixtures_s": t3 - t2, "total_s": t3 - t0}

    def new_home(self) -> str:
        self.homes += 1
        home = self.work / "homes" / f"h{self.homes}"
        home.mkdir(parents=True)
        return str(home)

    def register_fixtures(self, ctx) -> None:
        ctx.load_tables(str(self.work / "data"), WORKLOADS[self.args.workload])

    def new_api(self, strategy="value_id", home=None, fixtures=True):
        from kiara_spark.api import KiaraAPI
        from kiara_spark.context import KiaraContext

        ctx = KiaraContext(spark=self.spark, base_path=home or self.new_home(),
                           cache_strategy=strategy)
        if fixtures:
            self.register_fixtures(ctx)
        if strategy == "data_hash":
            # under data_hash a job key hashes its inputs' content: hash the
            # fixtures up front, as part of registering them
            for table in WORKLOADS[self.args.workload]:
                ctx.get_value(table).content_hash()
        return KiaraAPI(ctx)

    def run_canary(self, when: str) -> None:
        from canary import machine_canary

        self.canary.append(dict(machine_canary(self.spark), at=when))

    # -- workloads -----------------------------------------------------------
    def workload(self, executor, clock) -> list:
        """Run the workload's request list once; returns the finished
        requests.  The machine canary runs (clock paused) halfway."""
        import workloads as W

        name, seconds = self.args.workload, self.args.seconds
        if name == "batch":
            api = self.new_api()
            reqs = [(api, req, "batch")
                    for req in W.batch_pass(self.paths, self.args.seed)]
        elif name == "interactive":
            api = self.new_api()
            stream = W.InteractiveStream(self.args.seed)
            reqs = [(api, stream.next(), "interactive")
                    for _ in range(max(1, round(INTERACTIVE_PER_S * seconds)))]
        else:
            home = self.new_home()
            api = clock.pause(lambda: self.new_api("data_hash", home))
            saves = max(1, round(SAVES_PER_S * seconds))
            reqs = [(api, req, "interactive")
                    for req in itertools.islice(
                        W.persist_stream(self.args.seed), saves)]
        done = []
        for i, (api, req, mode) in enumerate(reqs):
            done.append(executor.run(api, req, mode))
            if i + 1 == len(reqs) // 2:
                clock.pause(lambda: self.run_canary("middle"))
        if name == "persist":
            # reopen on the same home, then replay every save
            api = clock.pause(lambda: self.new_api("data_hash", home))
            for _ in range(PERSIST_REPLAYS):
                for _, req, mode in reqs:
                    replay = dataclasses.replace(req, save=None)
                    done.append(executor.run(api, replay, mode))
        return done

    def timed(self, executor):
        import workloads as W

        clock = W.Clock()
        done = self.workload(executor, clock)
        return done, clock.elapsed()

    def check(self, done) -> list[str]:
        import checks
        import workloads as W

        golden_file = HERE / "golden.json"
        golden = (json.loads(golden_file.read_text()).get(str(self.args.sf), {})
                  if golden_file.is_file() else {})
        checker = W.Checker(golden, checks.SqlOracle(self.paths))
        failures = []
        for d in done:
            try:
                err = checker.check(d)
            except Exception as e:  # a check that raises is a failed request
                err = f"{d.request.key}: check raised {e!r}"
            if err:
                failures.append(err)
        return failures


def end_to_end(done, wall: float, setup: list[dict], peak_mb: float) -> tuple:
    lat = [d.latency for d in done]
    hits = [d.latency for d in done if d.hit]
    misses = [d.latency for d in done if not d.hit]
    tail, which = tail_latency(lat)
    metrics = {
        "setup_s": (statistics.median(s["total_s"] for s in setup), "s"),
        "request_p50_s": (statistics.median(lat), "s"),
        "request_tail_s": (tail, "s"),
        "requests_per_min": (len(done) / (wall / 60.0), "1/min"),
        "miss_p50_s": (statistics.median(misses) if misses else 0.0, "s"),
        "hit_p50_s": (statistics.median(hits) if hits else 0.0, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    return metrics, which


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "kiara_spark").is_dir() or not (ROOT / "examples").is_dir():
        print(f"error: {ROOT} holds no kiara_spark checkout (kiara_spark/ "
              "and examples/ are needed)", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path[:0] = [str(ROOT), str(HERE)]
    # on SIGTERM, unwind through the finally below: stop the JVM, clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    isolate(work)
    bench = Bench(args, work)
    try:
        return run(bench, args)
    finally:
        try:
            if bench.spark is not None:
                stop_spark(bench.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def run(bench: Bench, args) -> int:
    import workloads as W

    bench.set_up()
    bench.phase("set_up")
    bench.run_canary("start")
    bench.phase("canary_start")
    untraced = W.Executor()
    if args.trace:
        result = traced_run(bench, args, untraced)
    else:
        done, wall = bench.timed(untraced)
        bench.phase("workload")
        bench.run_canary("end")
        peak_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm_proc().pid)) / 1000.0
        metrics, which = end_to_end(done, wall, bench.setup, peak_mb)
        failures = bench.check(done)
        bench.phase("check")
        result = {"done": done, "failures": failures, "metrics": metrics,
                  "extra": {"tail_percentile": which, "wall_s": wall}}
    return report(bench, args, result)


def traced_run(bench: Bench, args, untraced) -> dict:
    """The run's request list four times: a warm-up, untraced, traced and
    untraced again.  Layer metrics come from the traced pass; the tracing
    overhead is its wall time minus the mean of the two untraced passes
    around it (the cold warm-up pass takes about twice as long)."""
    import tracing
    import workloads as W

    bench.timed(untraced)
    _, wall_u1 = bench.timed(untraced)
    tracer = tracing.Tracer(bench.spark)
    first_exec = tracing.last_execution_id(bench.spark) + 1
    first_home = bench.homes + 1
    tracer.install()
    try:
        done, wall_t = bench.timed(W.Executor(tracer))
    finally:
        tracer.uninstall()
    udf = tracing.python_udf_metrics(bench.spark, first_exec)
    jobs = tracing.spark_jobs(tracer)
    _, wall_u2 = bench.timed(untraced)
    wall_u = (wall_u1 + wall_u2) / 2
    bench.run_canary("end")
    m = tracing.layer_metrics(tracer, jobs, udf)
    m["session.start_s"] = statistics.median(s["session_s"] for s in bench.setup)
    m["context.init_s"] = statistics.median(s["context_s"] for s in bench.setup)
    m["trace.overhead_s"] = wall_t - wall_u
    m["trace.requests"] = len(done)
    saves = [d for d in done if d.request.save]
    warehouse = sum(f.stat().st_size
                    for h in range(first_home, bench.homes + 1)
                    for f in (bench.work / "homes" / f"h{h}").glob("warehouse/**/*")
                    if f.is_file())
    m["data.bytes_written"] = warehouse
    m["data.bytes_per_save"] = warehouse / len(saves) if saves else 0.0
    failures = bench.check(done)
    units = {k: ("s" if k.endswith("_s") else "bytes" if "bytes" in k
                 else "ratio" if k.endswith("ratio") else "count") for k in m}
    metrics = {k: (v, units[k]) for k, v in m.items()}
    spans = [{"id": s.span_id, "name": s.name, "parent": s.parent,
              "request": s.request, "start": s.start, "end": s.end}
             for s in tracer.spans]
    shares = tracing.layer_shares(tracer.spans,
                                  {i: d.hit for i, d in enumerate(done)})
    return {"done": done, "failures": failures, "metrics": metrics,
            "extra": {"untraced_wall_s": [wall_u1, wall_u2],
                      "traced_wall_s": wall_t, "layer_shares": shares,
                      "spans": spans}}


def report(bench: Bench, args, result) -> int:
    done, failures = result["done"], result["failures"]
    out_dir = HERE / "out"
    out_dir.mkdir(exist_ok=True)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": args.sf, "cpus": nproc(),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "cold_setup": bench.cold, "phase_s": bench.phases, "setup": bench.setup,
        "machine_canary": bench.canary,
        "attempted": len(done), "failed": len(failures),
        "error_ratio": len(failures) / max(1, len(done)),
        "failures": failures[:50],
        "metrics": {k: v for k, (v, _) in result["metrics"].items()},
        **result["extra"],
        "requests": [{"key": d.request.key, "latency_s": d.latency,
                      "hit": d.hit} for d in done],
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (out_dir / name).write_text(json.dumps(detail, indent=1))
    for k, (v, unit) in result["metrics"].items():
        print(f"{args.workload:12s} {k:34s} {v:14.6g} {unit}")
    print(f"{args.workload:12s} {'error_ratio':34s} "
          f"{detail['error_ratio']:14.6g} ratio")
    for f in failures[:10]:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(done),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit}
                    for k, (v, unit) in result["metrics"].items()},
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
