"""Machine-speed canary: fixed, data-free work timed beside the workload.

The two probes of ``bench.py``'s canary, shrunk so that three readings per
run (start, middle, end) cost well under a second: a whole-stage-codegen
``bit_xor(xxhash64(id))`` fold over a fixed range in the JVM, and a
single-threaded sha256 over fixed bytes in Python.  Each reading is the
minimum of three, so one scheduler blip does not move it.
"""

from __future__ import annotations

import hashlib
import time

JVM_ROWS = 20_000_000
BLOB = bytes(range(256)) * 65_536  # 16 MiB, deterministic


def _best_of(fn, n=3) -> float:
    best = float("inf")
    for _ in range(n):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def machine_canary(spark) -> dict:
    from pyspark.sql import functions as F

    def jvm():
        spark.range(JVM_ROWS).select(F.bit_xor(F.xxhash64("id"))).collect()

    def py():
        hashlib.sha256(BLOB).hexdigest()

    return {"jvm_s": _best_of(jvm), "py_sha256_s": _best_of(py)}
