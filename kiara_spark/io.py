"""Table loading helpers for the driver testdata layout.

Handles the one format wrinkle in the fixtures: ``events.parquet`` stores
``ts`` as parquet TIMESTAMP(NANOS), which Spark's vectorized reader rejects.
We flip ``spark.sql.legacy.parquet.nanosAsLong`` (runtime-settable) and
rebuild a microsecond timestamp with integer division — the same ns->us
truncation DuckDB applies, so both engines see identical instants.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Below this size a table is broadcast-dim material; parallelizing its scan
# costs more than it buys.
_MIN_PARALLEL_BYTES = 256 << 10

# Tables whose downstream operators do heavy per-row compute (shingling,
# hashing, vector math).  For pure relational queries the extra shuffle costs
# more than the parallelism buys (measured A/B at sf0.1: ~2x win for
# documents/embeddings pipelines, ~2x LOSS for join-light queries), so scan
# parallelization is opt-in by table role.
CPU_HEAVY_TABLES = {"documents", "embeddings"}


# The most table rows memoized per DataFrame, over its pages and show
# strings together; past it the oldest entry is dropped first.
PAGE_MEMO_ROWS = 1000

# DataFrame -> {key: (rows, result)}, insertion-ordered.  Weak keys: an
# entry dies with its frame.  A frame's plan is immutable, so a page is a
# pure function of (frame, key).
_page_memo: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_page_memo_lock = threading.Lock()


def _memoized(df: DataFrame, key: tuple, compute, rows):
    """``compute()`` once per ``(df, key)``.  The result, of ``rows(result)``
    rows, is kept unless it alone exceeds ``PAGE_MEMO_ROWS``; nothing is
    kept when ``compute`` raises."""
    with _page_memo_lock:
        hit = _page_memo.get(df, {}).get(key)
    if hit is not None:
        return hit[1]
    result = compute()
    n = rows(result)
    if n <= PAGE_MEMO_ROWS:
        with _page_memo_lock:
            entries = _page_memo.setdefault(df, {})
            entries[key] = (n, result)
            kept = sum(r for r, _ in entries.values())
            while kept > PAGE_MEMO_ROWS:
                kept -= entries.pop(next(iter(entries)))[0]
    return result


def collect_table_page(df: DataFrame, offset: int, limit: int) -> dict:
    """One offset/limit page of a table for a renderer: the slice is
    pushed INTO the plan (``offset().limit()``) so only the page's rows
    ever cross to the driver; values stringify None-preserving.  Shared
    by ``render.value`` (operators/misc.py) and the html value renderer
    (renderers.py) so the paging contract lives in one place.

    Pages are memoized per DataFrame object, up to ``PAGE_MEMO_ROWS`` rows
    per frame (oldest page evicted first; a bigger page is returned but
    not kept), so a repeat read of a cached value's page runs no Spark
    job.  Each call returns its own copy."""
    def compute():
        page = df.offset(offset).limit(limit).collect()
        return {
            "columns": df.columns,
            "rows": [{k: (str(v) if v is not None else None)
                      for k, v in r.asDict(recursive=True).items()}
                     for r in page],
        }

    page = _memoized(df, ("page", offset, limit), compute,
                     lambda p: len(p["rows"]))
    return {"columns": list(page["columns"]),
            "rows": [dict(r) for r in page["rows"]]}


def show_string(data, n: int = 20) -> str:
    """A value as the CLI prints it: Spark's ``show()`` table of the first
    ``n`` rows (cells cut at 40 characters) for a DataFrame, memoized like
    ``collect_table_page``; ``repr`` for anything else."""
    if not isinstance(data, DataFrame):
        return repr(data)
    return _memoized(data, ("show", n),
                     lambda: data._show_string(n, 40, False), lambda _: n)


def cut_lineage(df: DataFrame) -> DataFrame:
    """Truncate plan lineage for iterative/reused intermediates.

    ``localCheckpoint`` stores blocks on executor local storage — fine on
    local[32], but on a real cluster a lost executor kills a long iterative
    run mid-flight.  When ``KIARA_SPARK_CHECKPOINT_DIR`` is set (any
    HDFS/S3/shared path), use a RELIABLE checkpoint there instead: blocks
    land in fault-tolerant storage and survive executor loss.  The env var
    is read per call so tests and long-lived contexts can flip it."""
    ckpt_dir = os.environ.get("KIARA_SPARK_CHECKPOINT_DIR")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        # setCheckpointDir creates a fresh UUID subdir per call — register
        # once per configured path, remember what we set
        if getattr(sc, "_kiara_ckpt_dir", None) != ckpt_dir:
            sc.setCheckpointDir(ckpt_dir)
            sc._kiara_ckpt_dir = ckpt_dir
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def ensure_scan_parallelism(df: DataFrame, size_bytes: int | None) -> DataFrame:
    """Spread a low-split scan across the cluster's cores.

    Parquet parallelism is bounded by file splits *and row groups*: the
    fixtures are single-row-group files, so every scan is ONE task no matter
    how many cores exist — and everything downstream of it (shingling,
    hashing, array ops) serializes onto that task.  When the estimated split
    count is far below ``defaultParallelism`` we pay one small shuffle to
    unlock N-way CPU parallelism.  On a real cluster reading 100 TB of
    many-row-group files the estimate exceeds the core count and this is a
    no-op — it's a small-input guard, not a hand-scheduler.
    """
    if not size_bytes or size_bytes < _MIN_PARALLEL_BYTES:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").rstrip("b"))
    est_splits = max(1, size_bytes // max_split)
    if est_splits < max(2, target // 2):
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str,
               parallelize: bool | None = None) -> DataFrame:
    if parallelize is None:
        parallelize = name in CPU_HEAVY_TABLES
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # read tz-less parquet timestamps as TIMESTAMP (LTZ), not TIMESTAMP_NTZ:
    # watermarks/unix_micros require TIMESTAMP, and with a UTC session the
    # two types carry identical instants, so this is value-preserving.
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for fname, ftype in df.dtypes:
        if ftype == "timestamp_ntz":  # fallback if the conf was locked
            df = df.withColumn(fname, F.col(fname).cast("timestamp"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: ns ~1.7e18 exceeds double's 53-bit mantissa, so
        # float division would corrupt microseconds; `div` stays integral and
        # truncates exactly like DuckDB's ns->us conversion.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if parallelize:
        try:
            size = os.path.getsize(path)
        except OSError:
            size = None
        df = ensure_scan_parallelism(df, size)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    out = {}
    for name in names or ALL_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out
