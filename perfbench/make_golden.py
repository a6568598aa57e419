"""Record the golden fingerprints that the batch workload's checks use.

    python3 perfbench/make_golden.py

For each fixture scale, every request of a batch pass runs twice, each time in a fresh context and with a different
number of shuffle partitions; a request whose two fingerprints differ is
reported and left out.  Writes ``perfbench/golden.json``.  Re-run it only
when the fixtures or the request set change, never to make a failing
check pass.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import datagen  # noqa: E402
import run as R  # noqa: E402
import workloads as W  # noqa: E402
from checks import fingerprint  # noqa: E402

SCALES = (0.01, 0.001)


def batch_requests(paths):
    """Every distinct request a batch pass can make, over all seeds."""
    reqs = {}
    for seed in range(W.BOOTSTRAP_SALTS):
        reqs.update((r.key, r) for r in W.batch_pass(paths, seed))
    return list(reqs.values())


def main() -> int:
    os.chdir(HERE.parent)
    golden, unstable = {}, []
    work = HERE / ".work" / f"golden-{os.getpid()}"
    work.mkdir(parents=True)
    R.isolate(work)
    spark = None
    try:
        for sf in SCALES:
            args = R.parse_args(["--workload", "batch", "--seed", "0",
                                 "--seconds", "0", "--sf", str(sf)])
            bench = R.Bench(args, work / f"sf{sf}")
            if spark is None:
                bench.set_up()
                spark = bench.spark
            else:
                bench.spark = spark
                bench.paths = datagen.write_tables(
                    str(bench.work / "data"), sf, R.DATA_SEED)
            ex = W.Executor()
            prints = []
            for partitions in ("32", "7"):
                spark.conf.set("spark.sql.shuffle.partitions", partitions)
                api = bench.new_api()
                prints.append({})
                for req in batch_requests(bench.paths):
                    done = ex.run(api, req, "batch")
                    if done.error:
                        raise RuntimeError(done.error)
                    prints[-1][req.key] = {k: fingerprint(df)
                                           for k, df in done.outputs.items()}
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            golden[str(sf)] = {}
            for key, fp in prints[0].items():
                if fp == prints[1][key]:
                    golden[str(sf)][key] = fp
                else:
                    unstable.append(f"sf{sf} {key}")
    finally:
        if spark is not None:
            R.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    (HERE / "golden.json").write_text(json.dumps(golden, indent=1,
                                                 sort_keys=True) + "\n")
    for u in unstable:
        print(f"unstable, left out: {u}")
    print(f"wrote {sum(len(v) for v in golden.values())} golden entries")
    return 1 if unstable else 0


if __name__ == "__main__":
    sys.exit(main())
