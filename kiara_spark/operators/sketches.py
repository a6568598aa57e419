"""Mergeable-sketch distinct/overlap operators (SURVEY §2.3 aggregation
family, 100 TB partial-aggregation pattern).

The defining property at scale is *re-aggregatability*: a nightly job builds
small per-partition partials (one row per (group, bucket) holding a fixed-size
binary state), and every later rollup — weekly, monthly, ad-hoc slices —
aggregates ONLY the partials, never rescanning the raw fact table.  On a
100 TB events table that turns repeated COUNT(DISTINCT) queries from full
scans into scans of a few-MB partial table.

Three state families, all Spark built-ins (JVM-side, no Python in the path):

- **bitmap** (``bitmap_construct_agg`` / ``bitmap_or_agg`` / ``bitmap_count``)
  — EXACT distinct counts over integer ids.  State is one 4 KB bitmap per
  (group, 32768-id bucket); merging is bitwise OR, so partials built per day
  can be OR-merged into any coarser rollup with zero error.  Dense-id
  friendly: events.user_id at 100 TB maps to ~#users/32768 buckets per group.
- **HLL++** (``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``)
  — approximate distinct with one constant-size (2^lgK registers) sketch per
  group regardless of cardinality; use when ids are huge/sparse/non-integer
  and ~1-2 % error is fine.
- **theta** (``theta_sketch_agg`` / ``theta_union`` / ``theta_intersection``)
  — approximate distinct supporting SET ALGEBRA between groups: estimate
  |A ∩ B| / |A ∪ B| of user sets without ever materializing the sets.

Reference parity: kiara core has no aggregation operators (SURVEY §2.3 —
the tabular plugin seam); these extend the declared `table.group_by.aggregate`
family with the partial-aggregate pattern its design docs motivate
(columnar/Arrow storage, `docs/design_docs/architecture/data/requirements.ipynb`).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..modules import TABLE, _simple_module, config_kwargs
from ..operations import Operation


def bitmap_distinct_partials(
    df: DataFrame, keys: Sequence[str], id_col: str
) -> DataFrame:
    """Exact-distinct partial state: one 4 KB bitmap per (keys, id-bucket).

    This is the *stored* nightly artifact.  ``bitmap_bucket_number`` splits
    the integer id space into 32768-wide buckets so each group's state is a
    set of small bitmaps rather than one unbounded one; the shuffle key is
    (keys, bucket) — high fan-out, tiny rows, map-side partial construction.
    """
    return df.groupBy(
        *keys, F.bitmap_bucket_number(F.col(id_col)).alias("id_bucket")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position(F.col(id_col))).alias("bitmap")
    )


def bitmap_distinct_counts(partials: DataFrame, keys: Sequence[str]) -> DataFrame:
    """EXACT distinct count per ``keys``, computed ONLY from partials.

    Merging finer partials to coarser groups is ``bitmap_or_agg`` (bitwise
    OR — associative, commutative, idempotent), then the count is the sum of
    per-bucket popcounts.  No rescan of the fact table, no error.
    """
    return (
        partials.groupBy(*keys, "id_bucket")
        .agg(F.bitmap_or_agg("bitmap").alias("bitmap"))
        .groupBy(*keys)
        .agg(F.sum(F.bitmap_count("bitmap")).alias("n_distinct"))
    )


def bitmap_distinct_rollup(
    df: DataFrame,
    fine_keys: Sequence[str],
    coarse_keys: Sequence[str],
    id_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One pass over the fact table → (partials, fine counts, coarse counts).

    ``coarse_keys`` must be a subset of ``fine_keys``; both count levels are
    derived from the SAME partial build, demonstrating the rollup reading
    zero fact rows.
    """
    assert set(coarse_keys) <= set(fine_keys), (coarse_keys, fine_keys)
    partials = bitmap_distinct_partials(df, fine_keys, id_col)
    fine = bitmap_distinct_counts(partials, fine_keys)
    coarse = bitmap_distinct_counts(partials, coarse_keys)
    return partials, fine, coarse


def hll_distinct_partials(
    df: DataFrame, keys: Sequence[str], id_col: str, lgk: int = 14
) -> DataFrame:
    """HLL++ partial: one constant-size sketch per group (state ~2^lgk bytes
    whatever the cardinality — the sparse/huge-id alternative to bitmaps)."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(id_col), F.lit(lgk)).alias("hll")
    )


def hll_distinct_rollup(
    partials: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Approximate distinct per ``keys`` from stored HLL partials
    (``hll_union_agg`` merge, then estimate)."""
    return (
        partials.groupBy(*keys)
        .agg(F.hll_sketch_estimate(F.hll_union_agg(F.col("hll"))).alias("n_distinct_est"))
    )


def theta_overlap_pairs(
    df: DataFrame, group_col: str, id_col: str, lgk: int = 14
) -> DataFrame:
    """Estimated |A|, |B|, |A ∩ B|, |A ∪ B| for every pair of groups.

    One theta sketch per group (single shuffle over the fact table), then a
    tiny sketch×sketch self-join on the driver-scale group list — set algebra
    over 100 TB user sets at kilobyte cost.  Jaccard = inter / union.
    """
    sk = df.groupBy(group_col).agg(
        F.theta_sketch_agg(F.col(id_col), F.lit(lgk)).alias("sk")
    )
    a = sk.select(
        F.col(group_col).alias("group_a"), F.col("sk").alias("sk_a")
    )
    b = sk.select(
        F.col(group_col).alias("group_b"), F.col("sk").alias("sk_b")
    )
    pairs = a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
    return pairs.select(
        "group_a",
        "group_b",
        F.theta_sketch_estimate(F.col("sk_a")).alias("est_a"),
        F.theta_sketch_estimate(F.col("sk_b")).alias("est_b"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sk_a"), F.col("sk_b"))
        ).alias("est_intersection"),
        F.theta_sketch_estimate(
            F.theta_union(F.col("sk_a"), F.col("sk_b"))
        ).alias("est_union"),
    )


def _cms_bucket(key, j: int, width: int):
    """Depth-``j`` counter index for count-min: md5-derived (engine-portable
    — xxhash64 would be faster but has no DuckDB twin), 48-bit prefix mod
    width."""
    return F.pmod(
        F.conv(F.substring(
            F.md5(F.concat_ws("\x1f", key, F.lit(str(j)))), 1, 12),
            16, 10).cast("bigint"),
        F.lit(width)).cast("bigint")


def cms_build(
    df: DataFrame,
    key_col,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Count-min sketch build: a (depth x width) counter table estimating
    per-key frequencies over an unbounded key domain in fixed space.

    Each row increments one counter per depth (md5-derived bucket), so the
    build is ONE explode + hash aggregate (map-side combine) and the state
    is depth*width rows TOTAL — independent of key cardinality.  Partials
    are mergeable: sketches of different days SUM by (depth, bucket), the
    same re-aggregation contract as the bitmap/HLL family.  Estimates are
    deterministic (hash-defined), so unlike most sketches this one has an
    exact DuckDB oracle."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    pairs = F.array(*[
        F.struct(F.lit(j).alias("depth"),
                 _cms_bucket(key, j, width).alias("bucket"))
        for j in range(depth)
    ])
    return (
        df.select(F.explode(pairs).alias("_p"))
        .groupBy(F.col("_p.depth").alias("depth"),
                 F.col("_p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    key_col,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Frequency estimates for the query keys: min over the key's ``depth``
    counters (never underestimates; overestimates by <= eN with high
    probability at width ~ e/eps).  The sketch is depth*width rows — always
    broadcastable — so estimation is ``depth`` broadcast joins onto the
    query set: map-only, no shuffle of the queries."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    out = queries
    for j in range(depth):
        s_j = sketch.filter(F.col("depth") == j).select(
            F.col("bucket").alias(f"_b{j}"), F.col("cnt").alias(f"_c{j}"))
        out = out.join(F.broadcast(s_j),
                       _cms_bucket(key, j, width) == F.col(f"_b{j}"), "left")
    est = F.least(*[F.coalesce(F.col(f"_c{j}"), F.lit(0).cast("bigint"))
                    for j in range(depth)])
    return out.select(*queries.columns, est.alias("est"))


def _table_cms_frequency_process(self, im, ctx):
    cfg = self.config
    width = int(cfg.get("width", 1024))
    depth = int(cfg.get("depth", 4))
    key = cfg["key_column"]
    sketch = cms_build(im["table"].data, key, width, depth)
    return {"estimates": cms_estimate(
        sketch, im["queries"].data, cfg.get("query_key_column", key),
        width, depth)}


TableCmsFrequency = _simple_module(
    "table.frequency.cms",
    {"table": TABLE, "queries": TABLE},
    {"estimates": TABLE},
    _table_cms_frequency_process,
    doc="Count-min frequency sketch build + estimate (see cms_build).",
)


def _table_distinct_rollup_bitmap_process(self, im, ctx):
    partials, fine, coarse = bitmap_distinct_rollup(
        im["table"].data,
        fine_keys=self.config["fine_keys"],
        coarse_keys=self.config["coarse_keys"],
        id_col=self.config.get("id_column", "user_id"),
    )
    return {"partials": partials, "fine": fine, "coarse": coarse}


TableDistinctRollupBitmap = _simple_module(
    "table.distinct_rollup.bitmap",
    {"table": TABLE},
    {"partials": TABLE, "fine": TABLE, "coarse": TABLE},
    _table_distinct_rollup_bitmap_process,
    doc="Exact re-aggregatable distinct counts via bitmap partials.",
)


def _table_distinct_rollup_hll_process(self, im, ctx):
    partials = hll_distinct_partials(
        im["table"].data,
        keys=self.config["fine_keys"],
        id_col=self.config.get("id_column", "user_id"),
        **config_kwargs(self, "lgk"),
    )
    rollup = hll_distinct_rollup(partials, self.config["coarse_keys"])
    return {"partials": partials, "rollup": rollup}


TableDistinctRollupHll = _simple_module(
    "table.distinct_rollup.hll",
    {"table": TABLE},
    {"partials": TABLE, "rollup": TABLE},
    _table_distinct_rollup_hll_process,
    doc="Approximate re-aggregatable distinct counts via HLL++ partials.",
)

TableOverlapTheta = _simple_module(
    "table.overlap.theta", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": theta_overlap_pairs(
        im["table"].data,
        group_col=self.config["group_column"],
        id_col=self.config.get("id_column", "user_id"),
        **config_kwargs(self, "lgk"),
    )},
    doc="Pairwise set-overlap estimates between groups via theta sketches.",
)


MODULES = [TableDistinctRollupBitmap, TableDistinctRollupHll, TableOverlapTheta,
           TableCmsFrequency]
OPERATIONS = [
    Operation("table.distinct_rollup.bitmap", "table.distinct_rollup.bitmap"),
    Operation("table.distinct_rollup.hll", "table.distinct_rollup.hll"),
    Operation("table.overlap.theta", "table.overlap.theta"),
    Operation("table.frequency.cms", "table.frequency.cms"),
]
