"""Content-addressed hashing.

Mirrors the reference's identity scheme — manifests and values are identified
by deterministic content hashes (reference: ``src/kiara/utils/hashing.py:21-32``
builds dag-cbor + sha2-256 CIDs; job cache keys combine manifest + input CIDs,
``src/kiara/models/module/manifest.py:159-178``).  We use canonical-JSON +
sha256 (public, dependency-free) with the same *semantics*: equal logical
content ⇒ equal hash, regardless of dict ordering or row/partition order.

The genuinely hard part (SURVEY §7) is a deterministic content hash for a
*distributed, unordered* DataFrame.  Strategy: per-row sha2 over the
canonical JSON of a sorted-struct of all columns, combined with an
order-insensitive aggregate (sum of row-hash prefixes mod 2^64 plus xor and
count).  This is stable across partitionings, computed entirely JVM-side
(no Python boundary) and is one Spark job with a map-side partial aggregate —
at 100 TB it's a single scan with near-zero shuffle (one row per partition).
A save takes the same aggregates with ``DataFrame.observe`` while it writes
the parquet files, so storing a value costs no hashing scan.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Mapping
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def canonical_json(obj: Any) -> str:
    """Deterministic JSON: sorted keys, no whitespace drift."""
    return json.dumps(obj, sort_keys=True, separators=(",", ":"), default=str)


def hash_obj(obj: Any) -> str:
    """sha256 hex digest of an arbitrary JSON-able object."""
    return hashlib.sha256(canonical_json(obj).encode("utf-8")).hexdigest()


def manifest_hash(module_type: str, module_config: dict | None) -> str:
    """Identity of an operator + its config (reference Manifest.manifest_hash,
    ``src/kiara/models/module/manifest.py:93-101``)."""
    return hash_obj({"module_type": module_type, "module_config": module_config or {}})


def job_hash(module_type: str, module_config: dict | None, input_ids: dict) -> str:
    """Cache key for a job: manifest + input value ids (reference
    InputsManifest.job_hash, ``manifest.py:159-178``)."""
    return hash_obj(
        {
            "manifest": manifest_hash(module_type, module_config),
            "inputs": {k: str(v) for k, v in sorted(input_ids.items())},
        }
    )


def content_hash_aggregates(df: DataFrame) -> list[Column]:
    """The three order-insensitive aggregates the content hash combines,
    over each row's hash prefix: the first 15 hex digits (fits a signed
    64-bit long; conv() parses hex) of
    sha2_256(to_json(struct(<columns sorted by name>))).  Also usable with
    ``DataFrame.observe``, which takes them during whatever action runs the
    plan (a parquet write) with no scan of its own."""
    cols = sorted(df.columns)
    row_hash = F.sha2(F.to_json(F.struct(*[F.col(c) for c in cols])), 256)
    prefix = F.conv(F.substring(row_hash, 1, 15), 16, 10).cast("long")
    return [
        F.count(F.lit(1)).alias("n"),
        # decimal accumulator: long sum would overflow under ANSI mode
        F.sum(prefix.cast("decimal(38,0)")).alias("s"),
        F.bit_xor(prefix).alias("x"),
    ]


def content_hash_from_aggregates(df: DataFrame, agg: Mapping) -> str:
    """The content hash of ``df`` from its aggregates ``n``, ``s``, ``x``."""
    cols = sorted(df.columns)
    basis = {
        "n": agg["n"],
        "s": int(agg["s"] or 0) % (2**64),
        "x": int(agg["x"] or 0),
        "schema": [f"{c}:{df.schema[c].dataType.simpleString()}" for c in cols],
    }
    return hash_obj(basis)


def dataframe_content_hash(df: DataFrame) -> str:
    """Order- and partitioning-insensitive content hash of a DataFrame.

    row_hash = sha2_256(to_json(struct(<columns sorted by name>)))
    content  = sha256 of (count, sum(prefix64) mod 2^64, bit_xor(prefix64),
               schema-ddl) — commutative combine, so partition order and row
    order don't matter.  One scan, map-side partial agg, no wide shuffle.
    ``DataRegistry.store_value`` takes the same aggregates while it writes
    (``content_hash_aggregates``), so a save needs no scan of its own.
    """
    agg = df.agg(*content_hash_aggregates(df)).collect()[0]
    return content_hash_from_aggregates(df, agg.asDict())
