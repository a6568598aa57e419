"""Event-time window operators: tumbling / sliding / session.

The reference has no streaming surface (additive per BASELINE.json).  Spark's
``window()`` / ``session_window()`` work identically in batch and Structured
Streaming, so each operator is implemented ONCE and exposed both ways:

- batch: ``df.groupBy(window(ts, ...)).agg(...)`` over a static table
- streaming: the same expression over ``readStream`` + ``withWatermark`` —
  late data beyond the watermark is dropped, state is bounded.

Output contract: ``window_start``/``window_end`` as epoch **seconds**
(bigint) — unambiguous across engines/timezones, and exactly what the DuckDB
oracle computes with floor(epoch(ts)/slide) arithmetic.

Scale: windowed aggregation shuffles on (window, keys); watermarking bounds
streaming state; in batch, AQE handles skewed hot windows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..modules import TABLE, _simple_module, config_kwargs
from ..operations import Operation
from ..operators.tables import _agg_cols


def _epoch_seconds(c: Column) -> Column:
    # timestamp -> epoch seconds; UTC session tz makes this absolute
    return F.unix_timestamp(c)


def _win_bounds(win: Column) -> list[Column]:
    return [
        _epoch_seconds(win.start).alias("window_start"),
        _epoch_seconds(win.end).alias("window_end"),
    ]


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str] | None = None,
    aggregations: list[dict] | None = None,
) -> DataFrame:
    """Fixed, non-overlapping event-time windows."""
    win = F.window(F.col(ts_col), duration)
    g = df.groupBy(win, *(keys or []))
    out = g.agg(*_agg_cols(aggregations or [{"fn": "count", "column": "*", "alias": "n"}]))
    return out.select(*_win_bounds(F.col("window")), *(keys or []),
                      *[c for c in out.columns if c != "window" and c not in (keys or [])])


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str] | None = None,
    aggregations: list[dict] | None = None,
) -> DataFrame:
    """Overlapping windows: each event lands in duration/slide windows."""
    win = F.window(F.col(ts_col), duration, slide)
    g = df.groupBy(win, *(keys or []))
    out = g.agg(*_agg_cols(aggregations or [{"fn": "count", "column": "*", "alias": "n"}]))
    return out.select(*_win_bounds(F.col("window")), *(keys or []),
                      *[c for c in out.columns if c != "window" and c not in (keys or [])])


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str] | None = None,
    aggregations: list[dict] | None = None,
) -> DataFrame:
    """Sessions: windows close after ``gap`` of inactivity per key.
    Spark semantics: session end = last event + gap."""
    win = F.session_window(F.col(ts_col), gap)
    g = df.groupBy(win, *(keys or []))
    out = g.agg(*_agg_cols(aggregations or [{"fn": "count", "column": "*", "alias": "n"}]))
    return out.select(*_win_bounds(F.col("session_window")), *(keys or []),
                      *[c for c in out.columns if c != "session_window" and c not in (keys or [])])


# ---------------------------------------------------------------------------
# streaming variants
# ---------------------------------------------------------------------------


def read_parquet_stream(spark, path: str, schema=None, options: dict | None = None):
    """Structured Streaming source over a parquet directory (file stream).
    ``schema`` required by Spark for file streams; pass a batch-read schema.
    ``options`` pass through to the reader (e.g. maxFilesPerTrigger for
    multi-batch processing, recursiveFileLookup).

    Parquet timestamps written without a timezone come back as
    TIMESTAMP_NTZ, which ``withWatermark`` rejects (event time must be
    TIMESTAMP).  The session runs in UTC, so casting NTZ -> TIMESTAMP is
    value-preserving; normalize here so every streaming operator can
    watermark any parquet-sourced column."""
    if schema is None:
        schema = spark.read.option("recursiveFileLookup", "true").parquet(path).schema
    reader = spark.readStream.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.parquet(path)
    ntz = [f.name for f in schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for name in ntz:
        df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


def streaming_tumbling_agg(
    stream_df: DataFrame,
    ts_col: str,
    duration: str,
    watermark: str = "1 hour",
    keys: list[str] | None = None,
    aggregations: list[dict] | None = None,
) -> DataFrame:
    """Same logical op as tumbling_window_agg, with a watermark so streaming
    state is bounded and late events beyond it are dropped."""
    wm = stream_df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), duration)
    out = wm.groupBy(win, *(keys or [])).agg(
        *_agg_cols(aggregations or [{"fn": "count", "column": "*", "alias": "n"}])
    )
    return out.select(*_win_bounds(F.col("window")), *(keys or []),
                      *[c for c in out.columns if c != "window" and c not in (keys or [])])


def run_stream_to_memory(result: DataFrame, query_name: str,
                         mode: str = "append",
                         state_partitions: int | None = None,
                         await_sec: float = 180.0):
    """Drive a streaming plan into an in-memory sink (tests/demo); returns the
    StreamingQuery — caller awaits termination/processes batches.

    ``state_partitions``: per-micro-batch cost of a STATEFUL streaming op
    (stream-stream join, windowed agg) is dominated by state-store
    instances — one store per shuffle partition, each paying snapshot +
    commit per batch regardless of how little state it holds.  Size it to
    the keyed-state volume, exactly as you would on a real cluster: a
    demo-scale join (thousands of state rows) wants ~8 stores, not the
    batch default 32 (measured on the left-outer demo: 32 -> 14.9s,
    8 -> 3.8s for identical output).  Spark pins the state layout to the
    partition count at FIRST batch, so the conf is set before start and
    restored only after the query terminates — hence when
    ``state_partitions`` is given this call AWAITS termination
    (``await_sec``) instead of returning a live query."""
    spark = result.sparkSession
    if state_partitions is None:
        return (
            result.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (result.writeStream.format("memory")
             .queryName(query_name)
             .outputMode(mode)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(await_sec)
        return q
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# -- modules ---------------------------------------------------------------


def retention_cohorts(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Classic cohort retention: users are cohorted by the day of their first
    event; each (cohort_day, day_offset) cell counts distinct users active
    that many days after joining.

    Plan shape: one groupBy(user) for first-seen (shuffle on user), one join
    back on user (same key — no extra exchange needed on the events side
    after AQE), one grouped count_distinct.  No window function, so no
    per-user sort; scales as two hash shuffles on the user key."""
    day = F.to_date(F.col(ts_col))
    firsts = df.groupBy(user_col).agg(F.min(day).alias("_cohort_day"))
    joined = df.select(F.col(user_col), day.alias("_day")).join(firsts, user_col)
    return (
        joined.groupBy(
            F.col("_cohort_day").cast("string").alias("cohort_day"),
            F.datediff(F.col("_day"), F.col("_cohort_day")).cast("bigint").alias("day_offset"),
        )
        .agg(F.count_distinct(user_col).alias("n_users"))
    )


def gap_fill_hourly(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    agg_col: Column | None = None,
    agg_alias: str = "hourly_value",
) -> DataFrame:
    """Time-series gap filling with forward fill (the hypertable
    ``time_bucket_gapfill`` + ``locf`` pattern): hourly aggregate per key,
    densified to EVERY hour between each key's first and last event via
    sequence+explode (map-only generation — the grid never shuffles), then
    last-non-null carried forward with an ignore-nulls window.

    Output: (key, hour_ts epoch-seconds, filled_value, was_gap 0/1)."""
    h = F.date_trunc("hour", F.col(ts_col))
    agg = agg_col if agg_col is not None else F.round(
        F.sum(F.col("value").cast("decimal(38,10)")), 4).cast("double")
    hourly = df.groupBy(F.col(key_col).alias("_key"), h.alias("_h")).agg(
        agg.alias(agg_alias))
    bounds = hourly.groupBy("_key").agg(F.min("_h").alias("_h0"), F.max("_h").alias("_h1"))
    grid = bounds.select(
        "_key",
        F.explode(F.sequence("_h0", "_h1", F.expr("interval 1 hour"))).alias("_h"),
    )
    filled = grid.join(hourly, ["_key", "_h"], "left")
    w = Window.partitionBy("_key").orderBy("_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return filled.select(
        F.col("_key").alias(key_col),
        F.unix_timestamp("_h").cast("bigint").alias("hour_ts"),
        F.last(agg_alias, ignorenulls=True).over(w).alias("filled_value"),
        F.col(agg_alias).isNull().cast("bigint").alias("was_gap"),
    )


def gap_fill_interpolate(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Gap filling with LINEAR interpolation (the hypertable
    ``time_bucket_gapfill`` + ``interpolate`` pattern, complementing the
    LOCF variant): missing hours take
    ``prev + (next - prev) · elapsed/span`` between the surrounding
    observed hours.

    Same dense-grid build as ``gap_fill_hourly`` (sequence+explode, grid
    never shuffles beyond the key), then TWO ignore-nulls windows over one
    key sort (backward last + forward first share the partitioning — Spark
    reuses the exchange): each carries both the anchor value and its hour,
    so the interpolation fraction is pure codegen arithmetic.  Hours before
    the first / after the last observation keep the nearest anchor
    (= the only defensible extrapolation).  Output: (key, hour_ts,
    interpolated_value rounded 6dp, was_gap)."""
    h = F.date_trunc("hour", F.col(ts_col))
    agg = F.round(F.sum(F.col("value").cast("decimal(38,10)")), 4) \
        .cast("double")
    hourly = df.groupBy(F.col(key_col).alias("_key"), h.alias("_h")).agg(
        agg.alias("_v"))
    bounds = hourly.groupBy("_key").agg(
        F.min("_h").alias("_h0"), F.max("_h").alias("_h1"))
    grid = bounds.select(
        "_key",
        F.explode(F.sequence("_h0", "_h1", F.expr("interval 1 hour")))
        .alias("_h"))
    filled = grid.join(hourly, ["_key", "_h"], "left").withColumn(
        "_ts", F.unix_timestamp("_h").cast("bigint"))
    wb = Window.partitionBy("_key").orderBy("_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wf = Window.partitionBy("_key").orderBy("_h").rowsBetween(
        Window.currentRow, Window.unboundedFollowing)
    anchor_t = F.when(F.col("_v").isNotNull(), F.col("_ts"))
    pv = F.last("_v", ignorenulls=True).over(wb)
    pt = F.last(anchor_t, ignorenulls=True).over(wb)
    nv = F.first("_v", ignorenulls=True).over(wf)
    nt = F.first(anchor_t, ignorenulls=True).over(wf)
    interp = (
        F.when(F.col("_v").isNotNull(), F.col("_v"))
        .when(pv.isNull(), nv)           # before first observation
        .when(nv.isNull(), pv)           # after last observation
        .otherwise(pv + (nv - pv) * (F.col("_ts") - pt) / (nt - pt))
    )
    return filled.select(
        F.col("_key").alias(key_col),
        F.col("_ts").alias("hour_ts"),
        F.round(interp, 6).alias("interpolated_value"),
        F.col("_v").isNull().cast("bigint").alias("was_gap"),
    )


def funnel_stages(
    df: DataFrame,
    stages: list[str],
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered conversion funnel: a user reaches stage k when their earliest
    stage-k event strictly follows the timestamp at which they reached stage
    k-1.  Output: (stage_idx, stage, n_users) — one row per stage.

    Plan shape: per stage, one filtered groupBy(user) min + one equi-join on
    the user key against the survivors of the previous stage; every shuffle
    is on user_id, so on a pre-partitioned/bucketed event table the whole
    funnel is co-located.  Surviving-user sets shrink monotonically, and the
    per-stage aggregate input is filtered to one event type before the
    shuffle."""
    reached = None  # (user_col, _t) — time the user reached the previous stage
    counts = []
    for idx, stage in enumerate(stages):
        ev = df.filter(F.col(type_col) == stage).select(
            F.col(user_col), F.col(ts_col).alias("_ts"))
        if reached is None:
            cur = ev.groupBy(user_col).agg(F.min("_ts").alias("_t"))
        else:
            cur = (
                ev.join(reached, user_col)
                .filter(F.col("_ts") > F.col("_t"))
                .groupBy(user_col)
                .agg(F.min("_ts").alias("_t"))
            )
        reached = cur
        counts.append(
            cur.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(idx).cast("bigint").alias("stage_idx"),
                F.lit(stage).alias("stage"),
                "n_users",
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def anomaly_hourly_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    k_sigma: float = 3.0,
) -> DataFrame:
    """Volume-anomaly detection over an event stream (batch form): hourly
    event counts per key, flagged when they deviate more than ``k_sigma``
    standard deviations from that key's mean hourly volume.

    Determinism across engines: mean/variance are derived from EXACT bigint
    sums (sum n, sum n^2, count) with a fixed double-arithmetic shape —
    no engine-specific stddev built-in; the flag compares
    ``|n - mean| > k * sqrt(var)`` (multiplication, never division, so a
    zero-variance key flags any deviation instead of dividing by zero).

    Plan shape: two hash-aggs (hour grid, per-key stats) + one join back on
    the key — the stats side is tiny (one row per key) and broadcasts."""
    hourly = df.groupBy(
        F.col(key_col), F.date_trunc("hour", F.col(ts_col)).alias("_h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    stats = hourly.groupBy(key_col).agg(
        F.sum("n").cast("bigint").alias("_s1"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("_s2"),
        F.count(F.lit(1)).cast("bigint").alias("_c"),
    )
    mean = F.col("_s1").cast("double") / F.col("_c")
    var = F.greatest(F.col("_s2").cast("double") / F.col("_c") - mean * mean,
                     F.lit(0.0))
    return hourly.join(F.broadcast(stats), key_col).select(
        F.col(key_col),
        F.unix_timestamp("_h").cast("bigint").alias("hour_ts"),
        F.col("n"),
        (F.abs(F.col("n").cast("double") - mean) > F.lit(k_sigma) * F.sqrt(var))
        .cast("bigint").alias("is_anomaly"),
    )


def session_paths(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    max_steps: int = 8,
) -> DataFrame:
    """Behavioral path analysis: each user's first ``max_steps`` events (in
    event-time order, unique-key tiebreak) joined into an ordered
    ``a->b->c`` path string, then counted per distinct path.

    Plan shape: one shuffle on the user key for the per-user ordering
    (row_number window), the early ``rn <= max_steps`` filter caps the
    per-user payload BEFORE the path aggregation, then one hash-agg on the
    path string.  No collect_list of unbounded size ever builds up."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    stepped = (
        df.select(F.col(user_col), F.col(ts_col), F.col(tiebreak_col), F.col(type_col))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_steps)
    )
    per_user = stepped.groupBy(user_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col(ts_col).alias("t"),
                                                     F.col(tiebreak_col).alias("k"),
                                                     F.col(type_col).alias("e")))),
                lambda x: x["e"],
            ),
            "->",
        ).alias("path")
    )
    return per_user.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"))


def _win_module(name, fn, extra_fields):
    return _simple_module(
        name, {"table": TABLE}, {"table": TABLE},
        lambda self, im, ctx: {"table": fn(
            im["table"].data, self.config.get("ts_column", "ts"),
            **config_kwargs(self, *extra_fields, "keys", "aggregations"))})


EventsTumbling = _win_module("events.window.tumbling", tumbling_window_agg, ["duration"])
EventsSliding = _win_module("events.window.sliding", sliding_window_agg, ["duration", "slide"])
EventsSession = _win_module("events.window.session", session_window_agg, ["gap"])

EventsRetention = _simple_module(
    "events.retention.cohorts", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": retention_cohorts(
        im["table"].data,
        **config_kwargs(self, ts_col="ts_column", user_col="user_column"))},
    doc="Cohort retention grid over an event table.",
)

EventsGapFill = _simple_module(
    "events.gap_fill.hourly", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": gap_fill_hourly(
        im["table"].data,
        **config_kwargs(self, ts_col="ts_column", key_col="key_column"))},
    doc="Hourly gap-fill + forward fill (gapfill/locf) over an event table.",
)

EventsGapInterpolate = _simple_module(
    "events.gap_fill.interpolate", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": gap_fill_interpolate(
        im["table"].data,
        **config_kwargs(self, ts_col="ts_column", key_col="key_column"))},
    doc="Hourly gap-fill + LINEAR interpolation over an event table.",
)

EventsFunnel = _simple_module(
    "events.funnel", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": funnel_stages(
        im["table"].data,
        stages=self.config["stages"],
        **config_kwargs(self, ts_col="ts_column", user_col="user_column",
                        type_col="type_column"))},
    doc="Ordered conversion funnel over an event table (config: ``stages``).",
)

EventsSessionPaths = _simple_module(
    "events.session_paths", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": session_paths(
        im["table"].data,
        **config_kwargs(self, "max_steps", ts_col="ts_column",
                        user_col="user_column", type_col="type_column",
                        tiebreak_col="tiebreak_column"))},
    doc="Ordered behavioral paths (first-N event types per user) with counts.",
)

EventsAnomalyZscore = _simple_module(
    "events.anomaly.zscore", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": anomaly_hourly_counts(
        im["table"].data,
        **config_kwargs(self, "k_sigma", ts_col="ts_column",
                        key_col="key_column"))},
    doc="Hourly volume anomalies per key (z-score vs the key's own history).",
)


MODULES = [EventsTumbling, EventsSliding, EventsSession, EventsRetention,
           EventsGapFill, EventsGapInterpolate, EventsFunnel, EventsSessionPaths,
           EventsAnomalyZscore]
OPERATIONS = [
    Operation("events.window.tumbling", "events.window.tumbling"),
    Operation("events.window.sliding", "events.window.sliding"),
    Operation("events.window.session", "events.window.session"),
    Operation("events.retention.cohorts", "events.retention.cohorts"),
    Operation("events.gap_fill.hourly", "events.gap_fill.hourly"),
    Operation("events.gap_fill.interpolate", "events.gap_fill.interpolate"),
    Operation("events.funnel", "events.funnel"),
    Operation("events.session_paths", "events.session_paths"),
    Operation("events.anomaly.zscore", "events.anomaly.zscore"),
]
