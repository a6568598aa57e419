"""Temporal joins Spark lacks as primitives: as-of join and interval/range
join, composed from shuffle-efficient DataFrame ops.

The reference has no temporal joins at all (its tabular surface lives in
plugins — SURVEY §2.3); these are the additive scale operators a time-series /
event pipeline needs.

Scale design:

- ``asof_join``: the classic union + partitioned-window formulation.  Both
  sides shuffle ONCE on the key, a single sort per partition orders
  (ts, side), and ``last(..., ignoreNulls)`` carries the most recent right
  row forward onto each left row.  No per-row Python, no point lookups:
  at 100 TB it is exactly one wide shuffle + sort-based window — the same
  cost profile as a sort-merge join, and AQE handles skewed keys.

- ``range_join``: banded interval join.  Each left row explodes to the
  ~(span/width + 1) time buckets its window overlaps, the right side maps to
  one bucket, and the equi-join on (key, bucket) + exact-predicate filter
  replaces the O(N×M) cross product.  Bucket width defaults to the window
  span, so each left row lands in ≤ 2 buckets — candidate blowup is bounded
  and Catalyst runs it as a plain hash/sort-merge equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..modules import (STRING, TABLE, ModuleCharacteristics, _simple_module,
                       config_kwargs)
from ..operations import Operation
from .tables import store_bucketed

# Size-gated broadcast (round-9 verdict: three TPC-H plans hard-broadcast
# orders-derived slices that scale linearly with the data — fine at sf0.1,
# a job-killer at the 100-TB design point, and the hard hint OVERRIDES AQE's
# size-based choice).  Policy:
#   - frames bounded BY CONSTRUCTION (1-row / bounded-group aggregates,
#     fixed-cardinality dims: nation=25, region=5 at every TPC-H scale)
#     keep a hard F.broadcast — removing it would let a crossJoin degrade
#     to a CartesianProduct;
#   - everything whose size is O(data) — customer/supplier/part
#     (sf-proportional) and any orders/lineitem-derived slice — goes
#     through maybe_broadcast(): hint only while Catalyst's driver-side
#     size estimate is under the cap, otherwise join unhinted and let AQE
#     pick the strategy from RUNTIME shuffle sizes (still a broadcast join
#     at bench scale, sort-merge at cluster scale).
_BROADCAST_CAP_BYTES = 32 << 20


def _broadcast_cap() -> int:
    import os

    try:
        return int(os.environ.get("KIARA_SPARK_BROADCAST_CAP_BYTES",
                                  _BROADCAST_CAP_BYTES))
    except ValueError:
        return _BROADCAST_CAP_BYTES


def plan_size_estimate(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan ``sizeInBytes`` for ``df`` (driver-side,
    no job).  Reliable for scan/filter/project chains (file size scaled by
    the projected-column ratio); USELESS for join outputs (the
    SizeInBytesOnly visitor multiplies child sizes — supplier ⋈ nation
    estimates ~61 MB for 22 KB of data) and for grouped aggregates (child
    size passthrough) — gate those on a ``basis`` scan instead."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
    except Exception:
        return None


def maybe_broadcast(df: DataFrame, basis: DataFrame | list | None = None):
    """``F.broadcast(df)`` only while the frame is estimated under the
    broadcast cap (env ``KIARA_SPARK_BROADCAST_CAP_BYTES``, default 32 MB);
    above it, return ``df`` unhinted so AQE chooses from runtime sizes.

    ``basis``: DataFrame(s) whose *scan* estimate upper-bounds ``df``'s true
    size — pass the sf-scaled input for join-derived or one-row-per-key
    aggregate frames (e.g. ``maybe_broadcast(supp_nat, basis=supplier)``:
    an FK inner join with nation cannot exceed the supplier row count, but
    Catalyst's join estimate is a row-product blowup)."""
    frames = basis if basis is not None else df
    if not isinstance(frames, (list, tuple)):
        frames = [frames]
    cap = _broadcast_cap()
    for f in frames:
        est = plan_size_estimate(f)
        if est is None or est > cap:
            return df
    return F.broadcast(df)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str | list[str],
    left_ts: str = "ts",
    right_ts: str | None = None,
    value_cols: list[str] | None = None,
    direction: str = "backward",
    suffix: str = "_matched",
    strict: bool = False,
    tiebreak: str | None = None,
) -> DataFrame:
    """For every left row, attach the single right row (same ``by`` key) with
    the greatest ``right_ts`` <= ``left_ts`` (direction='backward') or the
    least ``right_ts`` >= ``left_ts`` ('forward').  Ties on the timestamp
    match (inclusive), like DuckDB/kdb ASOF JOIN — unless ``strict``, which
    excludes equal-timestamp right rows (< / >): the point-in-time-join
    semantics ("state just BEFORE the fact").

    ``tiebreak`` names a right column ordering right rows that share a
    timestamp (the latest by (ts, tiebreak) wins); without it, duplicate
    right timestamps per key are assumed absent.

    Output: all left columns + ``<right_ts><suffix>`` + each value col as
    ``<col><suffix>`` (NULL when no right row qualifies).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = [by] if isinstance(by, str) else list(by)
    right_ts = right_ts or left_ts
    value_cols = value_cols or [
        c for c in right.columns if c not in keys and c != right_ts
    ]

    carried = [right_ts, *value_cols]
    # strict: left sorts BEFORE right at equal ts, so the running last()
    # cannot see a same-timestamp right row from a left row's frame
    l_mark, r_mark = (0, 1) if strict else (1, 0)
    l_side = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("_ts"),
        F.lit(l_mark).alias("_side"),
        (F.lit(None).cast(dict(right.dtypes)[tiebreak]) if tiebreak
         else F.lit(0)).alias("_tb"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"_r_{c}") for c in carried],
    )
    r_side = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("_ts"),
        F.lit(r_mark).alias("_side"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("_tb"),
        F.lit(None).cast(
            l_side.schema["_l"].dataType.simpleString()
        ).alias("_l"),
        *[F.col(c).alias(f"_r_{c}") for c in carried],
    )
    both = l_side.unionByName(r_side)
    is_left = F.col("_side") == F.lit(l_mark)
    # _side asc is correct for both modes: the mark assignment above already
    # encodes who sorts first at equal timestamps
    order = [F.col("_ts").asc() if direction == "backward" else F.col("_ts").desc(),
             F.col("_side").asc(),
             F.col("_tb").asc_nulls_first()
             if direction == "backward" else F.col("_tb").desc_nulls_first()]
    w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    matched = both.select(
        "_side",
        "_l",
        *[F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_m_{c}") for c in carried],
    ).filter(is_left)
    return matched.select(
        *[F.col(f"_l.{c}").alias(c) for c in left.columns],
        *[F.col(f"_m_{c}").alias(f"{c}{suffix}") for c in carried],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    by: str | list[str],
    left_ts: str = "ts",
    right_ts: str | None = None,
    lower: float = 0.0,
    upper: float = 0.0,
    bucket_width: float | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """All (left, right) pairs with the same ``by`` key where
    ``right_ts`` ∈ [left_ts + lower, left_ts + upper] (seconds, inclusive).

    Output: all left columns + right's non-key columns suffixed.
    """
    keys = [by] if isinstance(by, str) else list(by)
    right_ts = right_ts or left_ts
    if upper < lower:
        raise ValueError("upper must be >= lower")
    width = float(bucket_width or max(upper - lower, 1e-9))

    l_epoch = F.col(left_ts).cast("double")
    r_epoch = F.col(right_ts).cast("double")
    l_bucketed = left.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor((l_epoch + F.lit(lower)) / F.lit(width)),
                F.floor((l_epoch + F.lit(upper)) / F.lit(width)),
            )
        ),
    )
    r_cols = [c for c in right.columns if c not in keys]
    r_bucketed = right.select(
        *[F.col(k) for k in keys],
        F.floor(r_epoch / F.lit(width)).alias("_bucket"),
        *[F.col(c).alias(f"{c}{suffix}") for c in r_cols],
    )
    r_ts_sfx = F.col(f"{right_ts}{suffix}").cast("double")
    joined = l_bucketed.join(r_bucketed, on=[*keys, "_bucket"]).filter(
        (r_ts_sfx >= l_epoch + F.lit(lower)) & (r_ts_sfx <= l_epoch + F.lit(upper))
    )
    return joined.drop("_bucket")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] | None = None,
    left_start: str = "start",
    left_end: str = "end",
    right_start: str | None = None,
    right_end: str | None = None,
    bucket_width: float = 86400.0,
    suffix: str = "_right",
) -> DataFrame:
    """All (left, right) pairs whose CLOSED intervals overlap:
    ``l.start <= r.end AND r.start <= l.end`` (epoch-second columns),
    optionally within equi-key groups ``on``.

    Scale design (the interval-join problem has no native Spark operator):
    each interval explodes onto the grid cells it touches
    (``floor(start/W) .. floor(end/W)``), the join runs on (keys, cell), and
    the exact predicate filters cell-mates.  A pair sharing several cells
    would duplicate, so it is kept only in the FIRST shared cell
    (``cell == greatest(l_start_cell, r_start_cell)``) — dedup as a codegen
    predicate instead of a distinct shuffle over the pair set.  Cost scales
    with interval length / W (cells per interval); pick ``bucket_width``
    near the typical interval span."""
    keys = [on] if isinstance(on, str) else list(on or [])
    right_start = right_start or left_start
    right_end = right_end or left_end

    ls, le = F.col(left_start).cast("double"), F.col(left_end).cast("double")
    l_b = left.withColumn("_c0", F.floor(ls / bucket_width)).withColumn(
        "_cell", F.explode(F.sequence(F.col("_c0"), F.floor(le / bucket_width))))
    r_cols = [c for c in right.columns if c not in keys]
    rs = F.col(right_start).cast("double")
    re_ = F.col(right_end).cast("double")
    r_b = right.select(
        *[F.col(k) for k in keys],
        F.floor(rs / bucket_width).alias("_rc0"),
        F.explode(F.sequence(F.floor(rs / bucket_width),
                             F.floor(re_ / bucket_width))).alias("_cell"),
        *[F.col(c).alias(f"{c}{suffix}") for c in r_cols],
    )
    rs_sfx = F.col(f"{right_start}{suffix}").cast("double")
    re_sfx = F.col(f"{right_end}{suffix}").cast("double")
    joined = l_b.join(r_b, on=[*keys, "_cell"]).filter(
        (ls <= re_sfx) & (rs_sfx <= le)
        # first-shared-cell dedup: emit the pair exactly once
        & (F.col("_cell") == F.greatest(F.col("_c0"), F.col("_rc0")))
    )
    return joined.drop("_cell", "_c0", "_rc0")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-busting equi-join: the (large, possibly skewed) left side gets a
    deterministic row-content salt; the (smaller) right side replicates
    across all ``salt`` values; the join runs on (keys + salt), spreading a
    hot key over ``salt`` tasks.

    AQE's skew-join split handles most cases adaptively — use this when the
    skew is known and extreme (a single key holding >> one task's memory) or
    AQE is unavailable.  Supports inner/left joins (each right row matches
    exactly one salt per left row, so multiplicities are preserved).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner|left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    l_salted = left.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)),
    )
    r_salted = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return l_salted.join(r_salted, on=[*keys, "_salt"], how=how).drop("_salt")


AsofJoin = _simple_module(
    "table.join.asof", {"left": TABLE, "right": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": asof_join(
        im["left"].data,
        im["right"].data,
        by=self.config.get("by", "user_id"),
        **config_kwargs(self, "left_ts", "right_ts", "direction",
                        value_cols="value_columns"),
    )},
    doc="""As-of join module (op ``table.join.asof``); no reference analog —
    additive temporal operator (SURVEY §2.3 declares the family).""",
)

RangeJoin = _simple_module(
    "table.join.range", {"left": TABLE, "right": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": range_join(
        im["left"].data,
        im["right"].data,
        by=self.config.get("by", "user_id"),
        **config_kwargs(self, "left_ts", "right_ts", "lower", "upper"),
    )},
)

SaltedJoin = _simple_module(
    "table.join.salted", {"left": TABLE, "right": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": salted_join(
        im["left"].data, im["right"].data,
        on=self.config.get("on", []),
        **config_kwargs(self, "how", "salt"),
    )},
)


StoreBucketed = _simple_module(
    "table.store.bucketed", {"table": TABLE, "name": STRING}, {"table": TABLE},
    lambda self, im, ctx: {"table": store_bucketed(
        im["table"].data, im["name"].data,
        bucket_by=self.config.get("bucket_by", []),
        **config_kwargs(self, "num_buckets", "sort_by"),
    )},
    doc="""Persist as a bucketed managed table for repeated shuffle-free joins
    (non-idempotent: it writes).""",
    characteristics=ModuleCharacteristics(is_idempotent=False),
)


def bloom_prefilter_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str | None = None,
    n_hashes: int = 5,
    bits_per_key: int = 16,
    exact: bool = True,
) -> DataFrame:
    """Semi-join with a bloom-filter pre-filter, as a pure DataFrame plan.

    The scale problem this solves: a semi-join of a 100 TB probe table
    against a build side too big to broadcast as a hash table shuffles the
    ENTIRE probe side on the key.  A bloom filter of the build keys is
    hundreds of times smaller than the build side (``bits_per_key`` bits
    per key vs full rows), so pre-filtering the probe against it means only
    rows that *probably* match ever reach the exchange.  Spark's own
    runtime-filter rule does this for selective joins
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`), but its
    `bloom_filter_agg` expression is not user-callable — this operator is
    the explicit, composable form.

    Construction (no JVM-internal APIs, no driver collect):
    - bit array = DataFrame of (word_index, 64-bit word), built by one
      hash-aggregate ``bit_or`` over the k bit positions of every build key
      (positions from ``xxhash64(key, seed_i)``; m rounded to a power of
      two sized at ``bits_per_key``·n_build).
    - probe membership = k self-repeated BROADCAST joins of the tiny words
      table (m/64 rows; e.g. 1 B keys ⇒ 2 GB total bitset, partitioned
      words would bucket-join instead — at fixture scale it broadcasts),
      each checking one bit via mask AND.  All k bits set ⇒ candidate.
    - ``exact=True`` finishes with the exact semi-join on the candidates,
      so results carry NO false positives (the bloom only cut shuffle
      volume); ``exact=False`` returns the candidate superset (membership-
      test mode, FPR ≈ 0.5^k at the default sizing).
    """
    build_key = build_key or probe_key
    n_build = build.select(build_key).distinct().count()  # one agg job
    m = 1 << max(10, (n_build * bits_per_key - 1).bit_length())

    # bit positions / word indexes / masks as SQL expressions (shiftleft's
    # DataFrame-API wrapper takes only a literal shift amount)
    def pos_expr(key: str, i: int) -> str:
        return f"pmod(xxhash64(`{key}`, {i}), {m})"

    def word_expr(pos: str) -> str:
        return f"CAST(({pos}) DIV 64 AS BIGINT)"

    def mask_expr(pos: str) -> str:
        return (f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pmod({pos}, 64) AS INT))")

    pos_pairs = F.array(*[
        F.struct(
            F.expr(word_expr(pos_expr(build_key, i))).alias("word_idx"),
            F.expr(mask_expr(pos_expr(build_key, i))).alias("mask"))
        for i in range(n_hashes)
    ])
    words = (
        build.select(F.explode(pos_pairs).alias("_p"))
        .groupBy(F.col("_p.word_idx").alias("word_idx"))
        .agg(F.expr("bit_or(_p.mask)").alias("bits"))
    )

    out = probe
    for i in range(n_hashes):
        p = pos_expr(probe_key, i)
        w = words.select(F.col("word_idx").alias(f"_w{i}"),
                         F.col("bits").alias(f"_b{i}"))
        out = out.join(
            F.broadcast(w),
            F.expr(word_expr(p)) == F.col(f"_w{i}"), "left")
        mask = F.expr(mask_expr(p))
        out = out.filter(
            F.col(f"_b{i}").isNotNull()
            & (F.col(f"_b{i}").bitwiseAND(mask) == mask))
    out = out.select(*probe.columns)
    if exact:
        out = out.join(
            build.select(F.col(build_key).alias(probe_key)).distinct(),
            probe_key, "left_semi")
    return out


def _bloom_prefilter_join_process(self, im, ctx):
    cfg = self.config
    return {"table": bloom_prefilter_join(
        im["probe"].data, im["build"].data,
        probe_key=cfg["probe_key"],
        build_key=cfg.get("build_key"),
        n_hashes=int(cfg.get("n_hashes", 5)),
        bits_per_key=int(cfg.get("bits_per_key", 16)),
        exact=bool(cfg.get("exact", True)))}


BloomPrefilterJoin = _simple_module(
    "table.join.bloom_prefilter",
    {"probe": TABLE, "build": TABLE},
    {"table": TABLE},
    _bloom_prefilter_join_process,
    doc="Bloom-prefiltered semi-join (see bloom_prefilter_join).",
)


def _interval_overlap_join_process(self, im, ctx):
    cfg = self.config
    return {"table": interval_overlap_join(
        im["left"].data, im["right"].data,
        on=cfg.get("on"),
        left_start=cfg.get("left_start", "start"),
        left_end=cfg.get("left_end", "end"),
        right_start=cfg.get("right_start"),
        right_end=cfg.get("right_end"),
        bucket_width=float(cfg.get("bucket_width", 86400.0)))}


IntervalOverlapJoin = _simple_module(
    "table.join.interval_overlap",
    {"left": TABLE, "right": TABLE},
    {"table": TABLE},
    _interval_overlap_join_process,
    doc="Bucketized interval-overlap join (see interval_overlap_join).",
)


def geo_radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    left_id: str = "id",
    right_id: str = "id",
    max_abs_lat: float = 66.0,
    dedupe_pairs: bool = True,
) -> DataFrame:
    """Spatial radius join: pairs within ``radius_km`` great-circle
    distance — the 2-D generalization of the banded range join, and the
    same scale shape: GRID-bucketed candidate generation + exact verify,
    never an all-pairs cross product.

    Each left point maps to one grid cell (cell size = one radius in
    degrees, latitude-padded for longitude shrink) and probes its 3×3
    neighborhood via a 9-way offset explode; the right side maps to one
    cell.  The equi-join on the cell key bounds candidates by local point
    density; the haversine predicate then verifies exactly.  Earth radius
    6371.0088 km (IUGG mean).  Output distances round to 4 dp.

    The longitude probe span scales with ``max_abs_lat`` (default 66°):
    one degree of longitude shrinks by cos(lat), so the cell neighborhood
    must widen by 1/cos(max |lat|) cells.  Longitude cells are MODULAR
    (pmod over the ring of cells), so pairs straddling the antimeridian
    are found; the haversine verify is itself periodic in Δλ, so the raw
    difference stays correct across the seam.  Points beyond
    ``max_abs_lat`` are not guaranteed (raise it — at the cost of a wider
    probe — for polar data)."""
    import math

    cell_deg = max(radius_km / 111.0, 1e-6)  # ~1° lat = 111 km
    n_lon_cells = max(1, math.ceil(360.0 / cell_deg))
    lon_span = max(1, math.ceil(
        1.0 / math.cos(math.radians(min(abs(max_abs_lat), 89.0)))))

    offsets = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in (-1, 0, 1) for dx in range(-lon_span - 1, lon_span + 2)
    ])
    def lon_cell(lon):
        return F.pmod(
            F.floor((lon + F.lit(180.0)) / F.lit(cell_deg)).cast("bigint"),
            F.lit(n_lon_cells))

    l = left.select(
        F.col(left_id).alias("id_a"),
        F.col(lat_col).alias("lat_a"), F.col(lon_col).alias("lon_a"),
        F.explode(offsets).alias("_o"),
    ).select(
        "id_a", "lat_a", "lon_a",
        (F.floor(F.col("lat_a") / F.lit(cell_deg)).cast("bigint")
         + F.col("_o.dy")).alias("_cy"),
        F.pmod(lon_cell(F.col("lon_a")) + F.col("_o.dx"),
               F.lit(n_lon_cells)).alias("_cx"),
    )
    r = right.select(
        F.col(right_id).alias("id_b"),
        F.col(lat_col).alias("lat_b"), F.col(lon_col).alias("lon_b"),
        F.floor(F.col(lat_col) / F.lit(cell_deg)).cast("bigint").alias("_cy"),
        lon_cell(F.col(lon_col)).alias("_cx"),
    )
    R = 6371.0088
    la, lb = F.radians("lat_a"), F.radians("lat_b")
    dphi = F.radians(F.col("lat_b") - F.col("lat_a")) / 2
    dlmb = F.radians(F.col("lon_b") - F.col("lon_a")) / 2
    h = (F.sin(dphi) * F.sin(dphi)
         + F.cos(la) * F.cos(lb) * F.sin(dlmb) * F.sin(dlmb))
    dist = F.lit(2.0 * R) * F.asin(F.sqrt(h))
    joined = l.join(r, ["_cy", "_cx"])
    # dedupe_pairs: self-join semantics (unordered pairs once, no self-
    # matches).  For two DISTINCT point sets pass False — ids may collide
    # across tables and every (a, b) match is wanted.
    if dedupe_pairs:
        joined = joined.filter(F.col("id_a") < F.col("id_b"))
    return (
        joined
        .withColumn("distance_km", F.round(dist, 4))
        .filter(F.col("distance_km") <= F.lit(radius_km))
        .select("id_a", "id_b", "distance_km")
        .distinct()
    )


#: Spark simpleString type names that map to pandas' nullable Int64.
_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def asof_join_cogroup(
    left: DataFrame,
    right: DataFrame,
    by: str = "user_id",
    ts_col: str = "ts",
    left_id: str = "event_id",
    right_id: str = "event_id",
    right_value: str = "value",
    n_buckets: int = 32,
    out_prefix: str = "purchase_",
) -> DataFrame:
    """Backward as-of join on the TRUE cogroup API:
    ``groupBy(bucket).cogroup(groupBy(bucket)).applyInPandas`` with a
    per-bucket ``pandas.merge_asof(by=key)`` — the Arrow-vectorized escape
    hatch for per-key alignment logic (here the relational ``asof_join``
    CAN express it too, so its SQL oracle verifies this path as well).

    The cogroup key is a COARSE HASH BUCKET of the join key, not the key
    itself: cogrouping directly on a high-cardinality key means one Python
    invocation per key (measured 14.5s for ~700 tiny user groups at sf0.1);
    bucketing amortizes the Python/Arrow boundary to ``n_buckets`` calls
    while ``merge_asof(by=...)`` keeps exact per-key semantics inside each
    call.  Same single shuffle per side; per-bucket memory is the bound.
    Right-side ties on (key, ts) collapse to the max id first, so the
    match is deterministic.

    Output schema is DERIVED from the inputs (key/id/value columns keep
    their own types; string keys and non-integer ids are fine):
    ``(left_id, by, ts_us, {out_prefix}ts_us, {out_prefix}{right_id},
    {out_prefix}{right_value})`` with the two timestamps as epoch
    microseconds.  ``ts_col`` must be a timestamp column on both sides."""
    import pandas as pd

    ltypes = {f.name: f.dataType.simpleString() for f in left.schema.fields}
    rtypes = {f.name: f.dataType.simpleString() for f in right.schema.fields}
    for col, side, types in ((by, "left", ltypes), (ts_col, "left", ltypes),
                             (left_id, "left", ltypes), (by, "right", rtypes),
                             (ts_col, "right", rtypes), (right_id, "right", rtypes),
                             (right_value, "right", rtypes)):
        if col not in types:
            raise ValueError(f"asof_join_cogroup: column {col!r} not in {side} table")
    for side, types in (("left", ltypes), ("right", rtypes)):
        if not types[ts_col].startswith("timestamp"):
            raise ValueError(
                f"asof_join_cogroup: {side}.{ts_col} must be a timestamp, "
                f"got {types[ts_col]}")
    out_names = [left_id, by, "ts_us", f"{out_prefix}ts_us",
                 f"{out_prefix}{right_id}", f"{out_prefix}{right_value}"]
    if len(set(out_names)) != len(out_names):
        raise ValueError(f"asof_join_cogroup: output name collision in {out_names}")
    out_types = [ltypes[left_id], ltypes[by], "bigint", "bigint",
                 rtypes[right_id], rtypes[right_value]]
    schema = ", ".join(f"`{n}` {t}" for n, t in zip(out_names, out_types))

    def _widen_nullable(frame, col, spark_type):
        """Convert an integral payload column to pandas' NULLABLE Int64
        BEFORE merge_asof: otherwise an unmatched left row makes pandas
        upcast the whole column to float64 (NaN insertion), silently
        rounding bigints above 2^53 — Int64 carries NA natively and passes
        through the merge exactly."""
        if spark_type in _INTEGRAL_TYPES:
            frame[col] = frame[col].astype("Int64")

    def _nullable_out(series, spark_type):
        """Post-merge normalization: integral columns are already nullable
        Int64 (see _widen_nullable); anything else gets None where the
        merge left NaN so Arrow casts cleanly."""
        if spark_type in _INTEGRAL_TYPES:
            return series.values
        return series.where(series.notna(), None).values

    bucket = F.pmod(F.xxhash64(F.col(by)), F.lit(n_buckets))
    l = left.select(bucket.alias("_b"), F.col(by).alias("_k"),
                    F.col(left_id).alias("_lid"), F.col(ts_col).alias("_lts"))
    r = right.select(bucket.alias("_b"), F.col(by).alias("_k"),
                     F.col(right_id).alias("_rid"),
                     F.col(ts_col).alias("_rts"),
                     F.col(right_value).alias("_rval"))

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame({n: pd.Series(dtype="object") for n in out_names})
        lpdf = lpdf.sort_values(["_lts", "_k"], kind="mergesort")
        out = pd.DataFrame({
            out_names[0]: lpdf["_lid"].values,
            out_names[1]: lpdf["_k"].values,
            out_names[2]: lpdf["_lts"].astype("datetime64[us]").astype("int64").values,
        })
        if rpdf.empty:
            out[out_names[3]] = pd.Series([pd.NA] * len(out), dtype="Int64")
            out[out_names[4]] = None
            out[out_names[5]] = None
            return out
        rr = (rpdf.sort_values(["_rts", "_rid"], kind="mergesort")
              .drop_duplicates(["_k", "_rts"], keep="last")
              .rename(columns={"_rts": "_ts"})
              .sort_values(["_ts", "_k"], kind="mergesort"))
        rr["_mts"] = rr["_ts"]  # carry the matched timestamp through
        _widen_nullable(rr, "_rid", rtypes[right_id])
        _widen_nullable(rr, "_rval", rtypes[right_value])
        merged = pd.merge_asof(
            lpdf.rename(columns={"_lts": "_ts"}), rr,
            on="_ts", by="_k", direction="backward")
        mts = merged["_mts"]
        ts_int = pd.Series(
            mts.values.astype("datetime64[us]").astype("int64"), dtype="Int64")
        ts_int[mts.isna().values] = pd.NA
        out[out_names[3]] = ts_int.values
        out[out_names[4]] = _nullable_out(merged["_rid"], rtypes[right_id])
        out[out_names[5]] = _nullable_out(merged["_rval"], rtypes[right_value])
        return out

    return l.groupBy("_b").cogroup(r.groupBy("_b")).applyInPandas(merge, schema)


GeoRadiusJoin = _simple_module(
    "table.join.geo_radius", {"left": TABLE, "right": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": geo_radius_join(
        im["left"].data, im["right"].data,
        radius_km=self.config["radius_km"],
        **config_kwargs(self, "left_id", "right_id", lat_col="lat_column",
                        lon_col="lon_column"))},
    doc="Grid-bucketed great-circle radius join (see geo_radius_join).",
)

AsofJoinCogroup = _simple_module(
    "table.join.asof_cogroup",
    {"left": TABLE, "right": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": asof_join_cogroup(
        im["left"].data,
        im["right"].data,
        **config_kwargs(self, "by", "left_id", "right_id", "right_value",
                        "n_buckets", "out_prefix", ts_col="ts_column"))},
    doc="""As-of join on the cogroup+applyInPandas API (per-key merge_asof) —
    the vectorized-Python seam for custom per-key alignment.""",
)


MODULES = [AsofJoinCogroup, GeoRadiusJoin, AsofJoin, RangeJoin, SaltedJoin, StoreBucketed, IntervalOverlapJoin,
           BloomPrefilterJoin]
OPERATIONS = [
    Operation("table.join.asof", "table.join.asof"),
    Operation("table.join.asof_cogroup", "table.join.asof_cogroup"),
    Operation("table.join.geo_radius", "table.join.geo_radius"),
    Operation("table.join.range", "table.join.range"),
    Operation("table.join.interval_overlap", "table.join.interval_overlap"),
    Operation("table.join.salted", "table.join.salted"),
    Operation("table.join.bloom_prefilter", "table.join.bloom_prefilter"),
    Operation("table.store.bucketed", "table.store.bucketed"),
]
