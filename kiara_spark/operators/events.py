"""Event-log analytics operators (time-series patterns over append-only logs).

The reference's module surface has no time-series operators (its relational
capability lives in plugins — SURVEY §2.3); this family supplies the standard
event-log query patterns a 100 TB clickstream pipeline runs daily, each as a
single-shuffle DataFrame plan:

- ``events.dedup.debounce`` — drop near-time duplicates (same key, within N
  seconds of the *previous* event).  Lag-debounce semantics: the comparison
  is against the immediately preceding event, not the last survivor, so the
  predicate is a pure window function (one shuffle on the key, no recursion
  — recursive "last kept" semantics do not distribute; documented).
- ``events.cumulative_distinct`` — daily new-entity counts and the running
  distinct total, via first-seen reduction: the 100 TB-safe form of
  ``COUNT(DISTINCT x) OVER (ORDER BY day)`` (which would need one global
  window holding every id in state).  Here the log collapses to one row per
  entity (hash agg), then a tiny per-day frame does the cumsum.
- ``events.resample.ohlc`` — open/high/low/close/volume bars per (key,
  bucket): the canonical downsample.  First/last are tie-broken on a unique
  id so results are partition-invariant; one hash aggregate, no window over
  the raw log.
- ``events.attribution`` — last-touch conversion attribution: each
  conversion credits the latest preceding touch event (strictly before,
  unique-id tiebreak).  Implemented with the engine's as-of join (union +
  window — one shuffle, no per-row subqueries).
- ``table.gaps_islands`` — classic gaps-and-islands: collapse consecutive
  integer values (e.g. active days) per key into [start, end] islands via
  the value - dense-row-number difference trick; one shuffle on the key.

Scale notes: every plan is built-in-function only (whole-stage codegen); the
only shuffles are on the analysis key; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operations import Operation
from ..modules import TABLE, _simple_module, config_kwargs


def debounce_events(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    min_gap_seconds: int = 60,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Keep an event only if the previous event of the same key is at least
    ``min_gap_seconds`` older (lag-debounce).  The first event per key always
    survives.  One window over one shuffle; semantics are deliberately
    lag-based (vs last-survivor-based, which is an inherently sequential
    recursion that neither Spark nor SQL can express scalably)."""
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col), F.col(tiebreak_col))
    prev = F.lag(F.col(ts_col)).over(w)
    gap = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev)
    return (
        df.withColumn("_gap", gap)
        .filter(F.col("_gap").isNull() | (F.col("_gap") >= min_gap_seconds))
        .drop("_gap")
    )


def cumulative_distinct_daily(
    df: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per day: number of first-seen entities and the cumulative distinct
    total.  Plan: hash-aggregate the log to one row per entity (min day —
    map-side partial combine does most of the work), count per day, then a
    running sum over the tiny day table.  Equivalent to a global
    count-distinct window but with O(days) window state instead of O(ids)."""
    first_seen = df.groupBy(F.col(id_col)).agg(
        F.min(F.to_date(ts_col)).alias("first_day"))
    per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_entities"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        F.col("day").cast("string").alias("day"),
        "new_entities",
        F.sum("new_entities").over(w).cast("bigint")
        .alias("cumulative_distinct"),
    )


def resample_ohlc(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "1 hour",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """OHLC + volume downsample bars per (key, time bucket).

    open/close use ``min_by``/``max_by`` on a (epoch, unique id) struct so
    simultaneous events break ties deterministically — ONE hash aggregate
    over the raw log (map-side combine; no window sort of the full table).
    Doubles round to 6 dp for cross-engine stability."""
    win = F.window(F.col(ts_col), bucket)
    ordkey = F.struct(
        F.unix_timestamp(F.col(ts_col)).alias("t"),
        F.col(tiebreak_col).alias("i"))
    v = F.col(value_col)
    return (
        df.groupBy(F.col(key_col).alias("series"), win.start.alias("_bs"))
        .agg(
            F.round(F.min_by(v, ordkey), 6).alias("open"),
            F.round(F.max(v), 6).alias("high"),
            F.round(F.min(v), 6).alias("low"),
            F.round(F.max_by(v, ordkey), 6).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("volume"),
        )
        .select("series",
                F.unix_timestamp("_bs").cast("bigint").alias("bucket_start"),
                "open", "high", "low", "close", "volume")
    )


def last_touch_attribution(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    conversion_type: str = "purchase",
    touch_types: list[str] | None = None,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Last-touch attribution: each conversion event credits the latest
    touch event of the same user strictly before it.  Returns
    (touch_channel, n_conversions) with unattributed conversions under
    channel ``(none)``.

    Plan: the engine's backward as-of join (union + one window over one
    user-key shuffle — `operators/joins.py:36`), then a tiny hash agg; no
    per-conversion subquery, no range self-join."""
    from .joins import asof_join

    touch_types = touch_types or ["click", "view"]
    conv = df.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("u"), F.col(ts_col).alias("conv_ts"),
        F.col(tiebreak_col).alias("conv_id"))
    touch = df.filter(F.col(type_col).isin(touch_types)).select(
        F.col(user_col).alias("u"), F.col(ts_col).alias("touch_ts"),
        F.col(type_col).alias("channel"),
        F.col(tiebreak_col).alias("touch_id"))
    attributed = asof_join(
        conv, touch, by="u", left_ts="conv_ts", right_ts="touch_ts",
        value_cols=["channel"], direction="backward", strict=True,
        tiebreak="touch_id")
    return (
        attributed.groupBy(F.coalesce(F.col("channel_matched"),
                                      F.lit("(none)")).alias("channel"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_conversions"))
    )


def gaps_islands(
    df: DataFrame,
    key_col: str,
    seq_col: str,
) -> DataFrame:
    """Collapse consecutive integer sequence values per key into islands.

    Input rows are deduplicated on (key, seq); ``seq - dense_rank`` is
    constant within a run of consecutive values, so one window + one hash
    aggregate produce (key, island_start, island_end, island_len).  The
    shuffle key is the entity key — day-grain sequences per key are tiny, so
    the window state is bounded regardless of log size."""
    d = df.select(F.col(key_col).alias("k"),
                  F.col(seq_col).cast("bigint").alias("s")).distinct()
    w = Window.partitionBy("k").orderBy("s")
    grp = F.col("s") - F.row_number().over(w)
    return (
        d.withColumn("_g", grp)
        .groupBy("k", "_g")
        .agg(F.min("s").alias("island_start"), F.max("s").alias("island_end"),
             F.count(F.lit(1)).cast("bigint").alias("island_len"))
        .select(F.col("k").alias(key_col), "island_start", "island_end",
                "island_len")
    )


def ewma_truncated(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
    horizon: int = 8,
) -> DataFrame:
    """Exponentially-weighted moving average per key over the daily-resampled
    series, with an explicit ``horizon``-term truncation.

    The textbook recursive EWMA (s_t = α·x_t + (1-α)·s_{t-1}) does not
    distribute: it is a sequential scan per key, and the closed form
    Σ α(1-α)^j·x_{t-j} needs unboundedly small/large powers.  The truncated
    form keeps the j = 0..horizon-1 terms only (weight below (1-α)^h is
    dropped and the weight vector renormalized over the lags that exist), so
    it is a fixed set of ``lag`` expressions over ONE window — one shuffle on
    the key, codegen arithmetic, identical SQL in any engine.  With α = 0.3,
    h = 8 the dropped tail carries < 6 % of the weight.

    Step 1 resamples to per-(key, day) means (decimal-exact sum/count so the
    mean is partition-invariant); step 2 applies the weighted lag sum.
    Output: (key, day string, day_avg, ewma) rounded to 6 dp."""
    day = F.date_trunc("day", F.col(ts_col))
    daily = (
        df.groupBy(F.col(key_col).alias("key"), day.alias("_day"))
        .agg((F.sum(F.col(value_col).cast("decimal(38,10)"))
              / F.count(F.lit(1))).cast("double").alias("day_avg"))
    )
    w = Window.partitionBy("key").orderBy("_day")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(horizon):
        weight = alpha * (1.0 - alpha) ** j
        x = F.lag("day_avg", j).over(w)
        num = num + F.coalesce(x * F.lit(weight), F.lit(0.0))
        den = den + F.when(x.isNotNull(), F.lit(weight)).otherwise(F.lit(0.0))
    return daily.select(
        "key",
        F.date_format("_day", "yyyy-MM-dd").alias("day"),
        F.round("day_avg", 6).alias("day_avg"),
        F.round(num / den, 6).alias("ewma"),
    )


def event_path_ngrams(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    n: int = 3,
    top_k: int = 20,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Top-``k`` most frequent length-``n`` event sequences (consecutive
    per-user paths) — the behavioral-mining primitive behind funnel
    discovery and next-action models.

    Plan: ``n-1`` lead expressions over ONE per-user window (single shuffle
    on the user key, one sort serves every lead), drop incomplete tails,
    one hash aggregate on the path, window top-k.  The (path, count)
    aggregate state is bounded by the distinct-path vocabulary, not the log
    size — safe at any scale."""
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    steps = [F.col(type_col)] + [
        F.lead(type_col, j).over(w) for j in range(1, n)]
    paths = df.select(F.concat_ws(" > ", *steps).alias("path"),
                      steps[-1].alias("_last"))
    counted = (
        paths.filter(F.col("_last").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
    )
    wr = Window.orderBy(F.col("n_paths").desc(), F.col("path"))
    return (
        counted.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= top_k)
        .select("path", "n_paths", F.col("rnk").cast("bigint").alias("rnk"))
    )


def holt_linear_forecast(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 7,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing over the daily
    series — the standard short-horizon forecaster one step past the EWMA
    (``events.ewma``):

        l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        x̂_{T+h} = l_T + h·b_T

    The recursion is inherently sequential, so it runs where sequential
    work belongs: the raw log collapses to ONE row per day (hash
    aggregate, decimal-exact sums — the only data-sized stage), the tiny
    daily series collects into a single sorted array, and the recursion is
    an ``F.aggregate`` left-fold over it — map-side, one row, no window,
    no driver loop.  State per step rounds to 9 dp so the fold and the
    oracle's recursive CTE agree bit-for-bit.  Init: l₀ = x₀, b₀ = 0.
    Returns 1 row: (n_days, level, trend, forecast_1, forecast_h)."""
    la, loma = F.lit(float(alpha)), F.lit(float(1.0 - alpha))
    lb, lomb = F.lit(float(beta)), F.lit(float(1.0 - beta))
    daily = (df.groupBy(F.date_trunc("day", F.col(ts_col)).alias("_d"))
             .agg(F.round(F.sum(F.col(value_col).cast("decimal(38,10)")), 4)
                  .cast("double").alias("_x")))
    arr = daily.agg(F.array_sort(F.collect_list(
        F.struct(F.col("_d").alias("d"), F.col("_x").alias("x"))))
        .alias("_s"))
    a = F.col("_s")
    x0 = F.element_at(a, 1)["x"]
    rest = F.when(F.size(a) >= 2, F.slice(a, 2, F.size(a) - 1)) \
        .otherwise(F.array().cast(
            "array<struct<d:timestamp,x:double>>"))

    def _step(acc, e):
        lnew = F.round(la * e["x"] + loma * (acc["l"] + acc["b"]), 9)
        return F.struct(
            lnew.alias("l"),
            F.round(lb * (lnew - acc["l"]) + lomb * acc["b"], 9).alias("b"))

    fold = F.aggregate(
        rest, F.struct(x0.alias("l"), F.lit(0.0).alias("b")), _step)
    return arr.select(
        F.size(a).cast("bigint").alias("n_days"),
        F.round(fold["l"], 6).alias("level"),
        F.round(fold["b"], 6).alias("trend"),
        F.round(fold["l"] + fold["b"], 6).alias("forecast_1"),
        F.round(fold["l"] + F.lit(float(horizon)) * fold["b"], 6)
        .alias("forecast_h"))


def sequence_pattern(
    df: DataFrame,
    pattern: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """MATCH_RECOGNIZE-lite: regex pattern matching over each key's
    time-ordered event sequence (SQL:2016 row-pattern recognition, the
    Flink CEP / Trino MATCH_RECOGNIZE capability, reduced to its portable
    core).  Each event becomes its type's first letter; the per-user
    letter string is matched with non-overlapping leftmost regex
    semantics (identical in Java regex and RE2 for class-based patterns —
    keep the terminator OUT of the repeated class, e.g. ``s[cv]*p`` =
    "signup, then clicks/views only, then purchase", so greedy-vs-longest
    ambiguity cannot arise).

    Plan: ONE hash aggregate builds the ordered sequence per key
    (``array_sort(collect_list(struct(ts, tiebreak, initial)))`` — no
    window sort pass), then pure map-side regex.  Per-key state is that
    key's event count: at 100 TB sessionize first or cap the horizon so
    sequences stay bounded (same contract as ``events.session_paths``).
    Returns one row per key: (user, seq_len, n_matches, first_match,
    first_len); keys with zero matches are KEPT (n_matches = 0) so the
    result doubles as the funnel-coverage audit."""
    ini = F.substring(F.col(type_col), 1, 1)
    seq = df.groupBy(F.col(user_col)).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col(ts_col).alias("_ts"),
                             F.col(tiebreak_col).alias("_tb"),
                             ini.alias("_i")))),
                lambda x: x["_i"]), "").alias("_seq"))
    # Column-API call with the pattern as a LITERAL column (not an f-string
    # spliced into F.expr): a pattern containing a quote cannot break out of
    # the expression, and backslash classes like \d reach the Java regex
    # engine verbatim instead of being eaten by Spark's SQL string-literal
    # escape processing (round-7 ADVICE, same convention as text.py).
    ms = F.regexp_extract_all(F.col("_seq"), F.lit(pattern), F.lit(0))
    has = F.size(ms) > 0
    return seq.select(
        F.col(user_col),
        F.length("_seq").cast("bigint").alias("seq_len"),
        F.size(ms).cast("bigint").alias("n_matches"),
        F.when(has, F.element_at(ms, 1)).alias("first_match"),
        F.when(has, F.length(F.element_at(ms, 1)).cast("bigint"))
        .alias("first_len"))


def capped_running_balance(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    delta_col: str = "delta",
    floor_value: float = 0.0,
) -> DataFrame:
    """Running balance with a floor (inventory/credit semantics):
    ``balance_t = max(floor, balance_{t-1} + delta_t)`` per key over the
    daily net change — the canonical NON-LINEAR recurrence that a window
    cumulative sum CANNOT express (the clamp makes each step depend on the
    clamped previous value, not the raw prefix sum).

    This is exactly the case for ``applyInPandas``: one shuffle on the key,
    then a per-key in-memory sequential fold (bounded by days-per-key, not
    table size).  Deltas round to 6 dp before the fold so the recurrence is
    bit-reproducible; the oracle replays it with a recursive CTE."""
    import pandas as pd

    daily = df.groupBy(
        F.col(key_col).alias("key"),
        F.date_trunc("day", F.col(ts_col)).alias("_d"),
    ).agg(F.round(F.sum(F.col(delta_col).cast("decimal(38,10)")), 6)
          .cast("double").alias("_delta"))

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_d", kind="mergesort")
        bal, out = floor_value, []
        for dlt in pdf["_delta"]:
            bal = max(floor_value, round(bal + dlt, 6))
            out.append(bal)
        pdf = pdf.assign(balance=out)
        return pdf[["key", "_d", "_delta", "balance"]]

    return (
        daily.groupBy("key")
        .applyInPandas(fold, schema="key string, _d timestamp, _delta double, "
                              "balance double")
        .select("key", F.date_format("_d", "yyyy-MM-dd").alias("day"),
                F.col("_delta").alias("net_change"), "balance")
    )


# -- modules ---------------------------------------------------------------

EventsDebounce = _simple_module(
    "events.dedup.debounce",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": debounce_events(
        im["table"].data, self.config["keys"],
        **config_kwargs(self, "min_gap_seconds", ts_col="ts_column",
                        tiebreak_col="tiebreak_column"))},
    doc="Near-time duplicate drop (lag-debounce; config: keys, "
        "min_gap_seconds, ts_column); one key shuffle.",
)

EventsCumulativeDistinct = _simple_module(
    "events.cumulative_distinct",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": cumulative_distinct_daily(
        im["table"].data,
        **config_kwargs(self, id_col="id_column", ts_col="ts_column"))},
    doc="Daily new + running distinct entities via first-seen reduction "
        "(config: id_column, ts_column); O(days) window state.",
)

EventsResampleOhlc = _simple_module(
    "events.resample.ohlc",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": resample_ohlc(
        im["table"].data,
        **config_kwargs(self, "bucket", key_col="key_column",
                        ts_col="ts_column", value_col="value_column",
                        tiebreak_col="tiebreak_column"))},
    doc="OHLC/volume downsample bars per key+bucket (min_by/max_by, one "
        "hash aggregate).",
)

EventsAttribution = _simple_module(
    "events.attribution.last_touch",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": last_touch_attribution(
        im["table"].data,
        **config_kwargs(self, "conversion_type", "touch_types",
                        user_col="user_column", ts_col="ts_column",
                        type_col="type_column",
                        tiebreak_col="tiebreak_column"))},
    doc="Last-touch conversion attribution via backward as-of join "
        "(config: conversion_type, touch_types).",
)

TableGapsIslands = _simple_module(
    "table.gaps_islands",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": gaps_islands(
        im["table"].data, self.config["key_column"],
        self.config["sequence_column"])},
    doc="Consecutive-run islands per key (config: key_column, "
        "sequence_column); seq - row_number trick, one shuffle.",
)

EventsEwma = _simple_module(
    "events.ewma",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": ewma_truncated(
        im["table"].data,
        **config_kwargs(self, "alpha", "horizon", key_col="key_column",
                        ts_col="ts_column", value_col="value_column"))},
    doc="Truncated-horizon EWMA over the daily-resampled series (config: "
        "alpha, horizon); fixed lag battery over one window.",
)

EventsPathNgrams = _simple_module(
    "events.path_ngrams",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": event_path_ngrams(
        im["table"].data,
        **config_kwargs(self, "n", "top_k", user_col="user_column",
                        ts_col="ts_column", type_col="type_column",
                        tiebreak_col="tiebreak_column"))},
    doc="Top-k consecutive event-type n-gram paths per user (config: n, "
        "top_k); lead battery + one path aggregate.",
)

EventsCappedBalance = _simple_module(
    "events.balance.capped",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": capped_running_balance(
        im["table"].data,
        **config_kwargs(self, key_col="key_column", ts_col="ts_column",
                        delta_col="delta_column", floor_value="floor"))},
    doc="Floored running balance (inventory semantics) — the non-linear "
        "recurrence a window cumsum can't express; per-key applyInPandas "
        "fold.",
)

def seasonal_decompose(
    df: DataFrame,
    ts_col: str = "ts",
    period: int = 24,
    window: int = 24,
) -> DataFrame:
    """Classical additive seasonal decomposition of an hourly count series
    (the moving-average method behind STL's initial pass):

    - ``c``: events per hour bucket;
    - ``trend``: centered ``window``-row moving average of ``c``;
    - ``seasonal``: per hour-of-period mean of the detrended series,
      summed as exact decimals so it is order-independent;
    - ``residual = c - trend - seasonal``.

    Plan: one hour-truncate aggregate, one ordered window (the series is
    one row per hour — tiny relative to the events that produced it; at
    100 TB the heavy step is the first aggregate, which shuffles on the
    hour key with map-side combine), one ``period``-row broadcast join.
    Rounding discipline: trend is an exact-int mean (deterministic
    double), detrended terms round to 9dp before the decimal seasonal
    sum, outputs round to 6dp — the cross-engine pattern every other
    oracle op uses."""
    hourly = (df.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("bucket_ts"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    half = window // 2
    w_ma = (Window.orderBy("bucket_ts")
            .rowsBetween(-half, window - half - 1))
    # phase = hours-since-epoch mod period (NOT hour-of-day: hour() caps
    # the phase space at 24, silently breaking weekly/multi-day periods;
    # for period=24 under a UTC session the two coincide — epoch is
    # midnight UTC — so the daily twin is unchanged)
    wd = (hourly
          .withColumn("trend", F.avg("c").over(w_ma))
          .withColumn("detrended", F.col("c") - F.col("trend"))
          .withColumn("hour_of_period",
                      F.pmod(F.floor(F.unix_timestamp("bucket_ts")
                                     / F.lit(3600)).cast("bigint"),
                             F.lit(period)).cast("bigint")))
    seasonal = (wd.groupBy("hour_of_period")
                .agg((F.round(F.sum(F.round(F.col("detrended"), 9)
                                    .cast("decimal(38,12)")), 6)
                      .cast("double")
                      / F.count(F.lit(1))).alias("seasonal_raw")))
    return (wd.join(F.broadcast(seasonal), "hour_of_period")
            .select(
                "bucket_ts", "hour_of_period", "c",
                F.round("trend", 6).alias("trend"),
                F.round("seasonal_raw", 6).alias("seasonal"),
                F.round(F.col("detrended") - F.col("seasonal_raw"), 6)
                .alias("residual")))


def autocorrelation(
    df: DataFrame,
    ts_col: str = "ts",
    max_lag: int = 12,
) -> DataFrame:
    """Autocorrelation function (ACF) of the hourly event-count series for
    lags 1..``max_lag`` — the standard seasonality/persistence diagnostic
    (statsmodels' acf with the full-series mean/variance, Pearson form).

    EXACT integer algebra end-to-end: with N buckets, S = Σc, Q = Σc² and
    per-lag P = Σ c_t·c_{t-k}, A = Σ' c_t, B = Σ' c_{t-k},

      acf_k = (N²·P − N·S·(A+B) + (N−k)·S²) / (N²·Q − N·S²)

    — the component sums are BIGINTs and the assembled products go
    through DECIMAL(38,0) (Spark) / HUGEINT (the SQL twin): exact,
    order-independent, and safe where ``N²·Q`` would overflow int64
    (~160k events/hour over a month already exceeds 2⁶³ there); only the
    final division is floating point, so any engine reproduces the
    doubles bit-for-bit.  Plan: one hour aggregate (the only pass over
    the raw events), one row_number window over the tiny series, one
    explode-by-lag self-join, one (lag)-key aggregate + broadcast global
    row.  Returns (lag, n_pairs, acf)."""
    hourly = (df.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("_bts"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    r = hourly.select(
        "_c", F.row_number().over(Window.orderBy("_bts"))
        .cast("bigint").alias("_rn"))
    from ..io import cut_lineage

    r = cut_lineage(r)
    g = r.agg(F.count(F.lit(1)).cast("bigint").alias("_n"),
              F.sum("_c").cast("bigint").alias("_s"),
              F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_c"))
              .cast("decimal(38,0)").alias("_q"))
    b = r.select(
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
        "_rn", F.col("_c").alias("_c_lag")
    ).select(F.col("lag").cast("bigint").alias("lag"),
             (F.col("_rn") + F.col("lag")).alias("_rn"), "_c_lag")
    j = (r.join(b, "_rn")
         .groupBy("lag")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
              F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_c_lag"))
              .cast("decimal(38,0)").alias("_p"),
              F.sum("_c").cast("bigint").alias("_sa"),
              F.sum("_c_lag").cast("bigint").alias("_sb")))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n, s, q = dec(F.col("_n")), dec(F.col("_s")), F.col("_q")
    num = (n * n * F.col("_p") - n * s * dec(F.col("_sa") + F.col("_sb"))
           + dec(F.col("_n") - F.col("lag")) * s * s)
    den = n * n * q - n * s * s
    return (j.crossJoin(F.broadcast(g))
            .select("lag", "n_pairs",
                    (num.cast("double") / den).alias("acf"))
            .orderBy("lag"))


def dft_periodogram(
    df: DataFrame,
    ts_col: str = "ts",
    min_period: int = 2,
    max_period: int = 14,
) -> DataFrame:
    """Single-frequency DFT power (Goertzel-style periodogram) of the daily
    event-count series at candidate periods ``min_period..max_period`` days
    — the cycle detector (is there a weekly rhythm?) that complements
    :func:`autocorrelation`'s persistence view.

    For period p with day index t and span n: a = Σ(c_t−μ)·cos(2πt/p)/1,
    b = likewise with sin, power = a² + b² — mean removal done EXACTLY as
    a_num = n·Σc·cos − S·Σcos so no float μ enters the sums.  The cos/sin
    factors round to 9dp and enter DECIMAL algebra (the repo's round-9
    pattern: a ≤2-ulp libm disagreement between engines cannot flip a 9dp
    rounding except with ~1e-7 probability per term), so the aggregate is
    order-independent and both engines assemble identical doubles at the
    single terminal division.  Plan: one day aggregate over the raw log
    (the only big-data pass), DENSIFY to the full 0..n−1 day grid
    (missing days are c=0 — without them the Σcos/Σsin mean-removal
    margins would cover only observed days while n spans the calendar
    range, making the exact-mean-removal identity wrong on gapped series;
    round-7 ADVICE), explode to (max_period−min_period+1) period-tagged
    rows, one (period) aggregate + broadcast 1-row global.  The grid is
    bounded by the calendar span in days, never by the event volume.
    Returns (period, a, b, power)."""
    import math

    daily = (df.groupBy(F.date_trunc("day", F.col(ts_col)).alias("_d"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    g = daily.agg(
        F.min("_d").alias("_d0"),
        (F.datediff(F.max("_d"), F.min("_d")) + 1).cast("bigint").alias("_n"),
        F.sum("_c").cast("decimal(38,0)").alias("_s"))
    obs = (daily.crossJoin(F.broadcast(g))
           .select(F.datediff(F.col("_d"), F.col("_d0")).cast("bigint")
                   .alias("_t"), "_c"))
    grid = g.select(
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("_n") - 1))
        .alias("_t"), "_n", "_s")
    t = (grid.join(obs, "_t", "left")
         .select("_t", F.coalesce(F.col("_c"), F.lit(0)).cast("bigint")
                 .alias("_c"), "_n", "_s"))
    b = t.select(
        F.explode(F.sequence(F.lit(min_period), F.lit(max_period)))
        .alias("_p"), "_t", "_c", "_n", "_s"
    ).withColumn("period", F.col("_p").cast("bigint"))
    ang = (F.lit(2.0 * math.pi) * F.col("_t").cast("double")
           / F.col("period").cast("double"))
    dec9 = lambda c: F.round(c, 9).cast("decimal(20,9)")  # noqa: E731
    # decimal(17,0): the per-term product (20,9)x(17,0) needs exactly 38
    # digits, so BOTH engines compute it exactly — at (18,0) Spark's rule
    # (p1+p2+1 = 39 > 38) silently rounds the scale down a digit while
    # DuckDB (w1+w2 = 38) stays exact, and the sums drift ~1e-8
    cd = F.col("_c").cast("decimal(17,0)")
    per = (b.groupBy("period")
           .agg(F.max("_n").alias("_n"), F.max("_s").alias("_s"),
                F.sum(dec9(F.cos(ang)) * cd).alias("_ac"),
                F.sum(dec9(F.sin(ang)) * cd).alias("_as"),
                F.sum(dec9(F.cos(ang))).alias("_cc"),
                F.sum(dec9(F.sin(ang))).alias("_cs")))
    # assemble a/b in DOUBLE from the exact decimal sums: each sum casts
    # to the identical double on both engines, and the fixed-order double
    # expression n·Σc·cos − S·Σcos is then bit-identical — whereas the
    # former decimal(38,0)×decimal(38,9) product OVERFLOWS 38 digits and
    # each engine reduces precision by its own rounding rule (observed
    # 1e-8 drift at sf0.1), and a final ROUND(double, k) diverges at
    # half-ulp ties.  No rounding anywhere downstream of the sums.
    n_d = F.col("_n").cast("double")
    a = ((n_d * F.col("_ac").cast("double")
          - F.col("_s").cast("double") * F.col("_cc").cast("double"))
         / n_d)
    bb = ((n_d * F.col("_as").cast("double")
           - F.col("_s").cast("double") * F.col("_cs").cast("double"))
          / n_d)
    return (per.select("period", a.alias("a"), bb.alias("b"))
            .withColumn("power", F.col("a") * F.col("a")
                        + F.col("b") * F.col("b"))
            .orderBy("period"))


def cross_correlation(
    df: DataFrame,
    type_a: str,
    type_b: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_lag: int = 3,
) -> DataFrame:
    """Lagged Pearson cross-correlation between two event types' daily
    count series — the lead/lag detector ("do clicks predict purchases N
    days out?").  For lag ℓ the pairs are (x on day d, y on day d+ℓ),
    lags −max_lag..+max_lag, inner-joined on calendar day so gaps drop out
    of both sides symmetrically.

    EXACT integer algebra: counts are BIGINTs, so n, Σx, Σy, Σx², Σy², Σxy
    accumulate exactly (DECIMAL(38,0) products) and
    r = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) touches floating
    point only in the terminal sqrt/divide — both engines reproduce the
    double bit-for-bit.  Plan: one day×type aggregate over the raw log,
    explode the x side by (2·max_lag+1) lag offsets, one day-keyed join of
    two tiny series, one (lag) aggregate.  Returns (lag, n_days, r)."""
    daily = (df.filter(F.col(type_col).isin([type_a, type_b]))
             .groupBy(F.to_date(F.col(ts_col)).alias("_d"),
                      F.col(type_col).alias("_ty"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    x = daily.filter(F.col("_ty") == type_a).select(
        "_d", F.col("_c").alias("_x"))
    y = daily.filter(F.col("_ty") == type_b).select(
        "_d", F.col("_c").alias("_y"))
    xl = x.select(
        F.explode(F.sequence(F.lit(-max_lag), F.lit(max_lag)))
        .alias("_l"), "_d", "_x"
    ).select(F.col("_l").cast("bigint").alias("lag"),
             F.date_add(F.col("_d"), F.col("_l")).alias("_d"), "_x")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = (xl.join(y, "_d")
           .groupBy("lag")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                F.sum("_x").cast("bigint").alias("_sx"),
                F.sum("_y").cast("bigint").alias("_sy"),
                F.sum(F.col("_x").cast("decimal(38,0)") * F.col("_x"))
                .cast("decimal(38,0)").alias("_sxx"),
                F.sum(F.col("_y").cast("decimal(38,0)") * F.col("_y"))
                .cast("decimal(38,0)").alias("_syy"),
                F.sum(F.col("_x").cast("decimal(38,0)") * F.col("_y"))
                .cast("decimal(38,0)").alias("_sxy")))
    n = dec("n_days")
    num = (n * F.col("_sxy") - dec("_sx") * dec("_sy")).cast("double")
    vx = (n * F.col("_sxx") - dec("_sx") * dec("_sx")).cast("double")
    vy = (n * F.col("_syy") - dec("_sy") * dec("_sy")).cast("double")
    r = F.when((vx > 0) & (vy > 0),
               F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6))
    return agg.select("lag", "n_days", r.alias("r")).orderBy("lag")


def active_users(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    windows: tuple = (1, 7, 30),
) -> DataFrame:
    """DAU / WAU / MAU — distinct active users per calendar day over
    trailing 1/7/30-day windows, the product-analytics staple that
    ``COUNT(DISTINCT) OVER (RANGE 30 days)`` cannot express at scale (the
    window would hold every id in state).

    Scale shape: the raw log first collapses to DISTINCT (user, day) — the
    only pass over the events — then each user-day row fans out to the
    (window, day) pairs it keeps the user active for (Σwindows ≈ 38 rows
    per user-day, all map-side) and ONE exact distinct-count aggregate per
    (window, day) finishes it.  Days with no activity in the trailing
    window are absent (standard dashboards join a calendar spine), and the
    fan-out is CAPPED at the max observed day (broadcast 1-row max-date
    frame) so the output never shows phantom decaying 7d/30d actives for
    days past the end of the data (round-7 ADVICE).
    Returns (day, active_1d, active_7d, active_30d)."""
    ud = (df.select(F.to_date(F.col(ts_col)).alias("_d"),
                    F.col(user_col).alias("_u"))
          .distinct())
    maxd = ud.agg(F.max("_d").alias("_maxd"))
    w_arr = F.array(*[F.lit(int(w)) for w in windows])
    fan = ud.crossJoin(F.broadcast(maxd)).select(
        "_u", F.explode(w_arr).alias("_w"), "_d", "_maxd"
    ).select(
        "_u", "_w",
        F.explode(F.filter(
            F.transform(
                F.sequence(F.lit(0), F.col("_w") - 1),
                lambda i: F.date_add(F.col("_d"), i)),
            lambda d: d <= F.col("_maxd"))).alias("day"))
    agg = (fan.groupBy("day", "_w")
           .agg(F.count_distinct(F.col("_u")).cast("bigint").alias("_n")))
    pivoted = (agg.groupBy("day")
               .pivot("_w", [int(w) for w in windows])
               .sum("_n"))
    out = pivoted.select(
        "day", *[F.coalesce(F.col(str(int(w))), F.lit(0)).cast("bigint")
                 .alias(f"active_{int(w)}d") for w in windows])
    return out.orderBy("day")


def interval_coverage(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Union-of-intervals coverage per key: overlapping (or touching)
    intervals are merged into maximal islands and each key reports its
    island count and total covered duration — the canonical "how long was
    this user actually active" / machine-uptime / SLA-coverage reduction,
    where naively summing interval lengths double-counts overlap.

    Plan: ONE shuffle on the key; the island assignment is the classic
    running-max trick (an interval starts a new island iff its start
    exceeds the max end of every earlier interval — two window functions
    over the same (key, start, end) sort), then two hash aggregates.
    Start/end must be numeric (use epoch micros for timestamps — exact
    integer durations; see events_interval_coverage).  Touching intervals
    (start == previous end) merge."""
    w = Window.partitionBy(key_col).orderBy(F.col(start_col),
                                            F.col(end_col))
    prev_max_end = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = df.select(
        F.col(key_col), F.col(start_col), F.col(end_col),
        F.when(prev_max_end.isNull()
               | (F.col(start_col) > prev_max_end), 1)
        .otherwise(0).alias("_ni"))
    islands = flagged.select(
        key_col, start_col, end_col,
        F.sum("_ni").over(
            Window.partitionBy(key_col)
            .orderBy(F.col(start_col), F.col(end_col))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_island"))
    per_island = (islands.groupBy(key_col, "_island")
                  .agg(F.min(start_col).alias("_st"),
                       F.max(end_col).alias("_en")))
    return (per_island.groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_islands"),
                 F.sum(F.col("_en") - F.col("_st")).cast("bigint")
                 .alias("covered")))


def changepoint_binseg(
    df: DataFrame,
    ts_col: str = "ts",
    bucket: str = "day",
) -> DataFrame:
    """Single change-point detection by binary segmentation (Scott &
    Knott 1974 / the first split of ruptures' binseg): over the bucketed
    count series, pick the split k maximizing the scaled mean shift

        T(k) = sqrt(k·(N−k)/N) · |mean_left − mean_right|

    — the standard CUSUM-equivalent statistic for a level change.

    Determinism: bucket counts are exact integers, the statistic is
    fixed-order IEEE double arithmetic from identical integer operands
    (bit-identical on any engine; no rounding needed for a stable
    argmax), ties break on the earlier split.  Plan: one bucket
    aggregate over the raw log (the only heavy pass), cumulative sums
    over the tiny series grid, a row_number argmax.  Returns ONE row:
    (split_bucket, n_left, n_right, mean_left, mean_right, stat),
    means rounded to 6 dp for display."""
    b = (df.groupBy(F.date_trunc(bucket, F.col(ts_col)).alias("_b"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    w = Window.orderBy("_b")
    g = b.select(
        "_b", "_c",
        F.row_number().over(w).cast("bigint").alias("_k"),
        F.sum("_c").over(w.rowsBetween(Window.unboundedPreceding,
                                       Window.currentRow))
        .cast("bigint").alias("_sl"))
    tot = b.agg(F.count(F.lit(1)).cast("bigint").alias("_n"),
                F.sum("_c").cast("bigint").alias("_s"))
    k, n = F.col("_k").cast("double"), F.col("_n").cast("double")
    sl, s = F.col("_sl").cast("double"), F.col("_s").cast("double")
    ml = sl / k
    mr = (s - sl) / (n - k)
    stat = F.sqrt(k * (n - k) / n) * F.abs(ml - mr)
    cand = (g.crossJoin(F.broadcast(tot))
            .filter(F.col("_k") < F.col("_n"))
            .select(F.date_format("_b", "yyyy-MM-dd HH:mm:ss")
                    .alias("split_bucket"),
                    F.col("_k").alias("n_left"),
                    (F.col("_n") - F.col("_k")).alias("n_right"),
                    F.round(ml, 6).alias("mean_left"),
                    F.round(mr, 6).alias("mean_right"),
                    stat.alias("_stat")))
    wr = Window.orderBy(F.col("_stat").desc(), F.col("split_bucket"))
    return (cand.withColumn("_rn", F.row_number().over(wr))
            .filter(F.col("_rn") == 1)
            .select("split_bucket", "n_left", "n_right",
                    "mean_left", "mean_right",
                    F.round(F.col("_stat"), 6).alias("stat")))


def position_based_attribution(
    df: DataFrame,
    touch_types: list[str],
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution — the
    standard middle ground between last-touch (all credit to one event)
    and linear (flat) models: for each conversion, its strictly-earlier
    touches get 40% first / 40% last / 20% split across the middle
    (100% for a single touch, 50/50 for two).

    Plan: one user-key join pairs each conversion with its prior touches,
    one window over each conversion's touch list assigns positions, and
    per-touch credits are rounded to 9 dp and summed as DECIMAL(38,12)
    (partition-order-invariant).  Shuffles on the user key and the
    conversion key only.  Returns (touch_type, n_touches, credit)."""
    conv = (df.filter(F.col(type_col) == conversion_type)
            .select(F.col(user_col).alias("_u"),
                    F.col(ts_col).alias("_cts"),
                    F.col(tiebreak_col).alias("_cid")))
    touch = (df.filter(F.col(type_col).isin(list(touch_types)))
             .select(F.col(user_col).alias("_u"),
                     F.col(ts_col).alias("_tts"),
                     F.col(type_col).alias("touch_type"),
                     F.col(tiebreak_col).alias("_tid")))
    j = touch.join(conv, "_u").filter(F.col("_tts") < F.col("_cts"))
    w = Window.partitionBy("_cid").orderBy(F.col("_tts"), F.col("_tid"))
    wc = Window.partitionBy("_cid")
    pos = j.select(
        "touch_type",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wc).alias("_n"))
    credit = (F.when(F.col("_n") == 1, F.lit(1.0))
              .when(F.col("_n") == 2, F.lit(0.5))
              .when(F.col("_rn") == 1, F.lit(0.4))
              .when(F.col("_rn") == F.col("_n"), F.lit(0.4))
              .otherwise(F.lit(0.2) / (F.col("_n") - 2)))
    return (pos.select("touch_type",
                       F.round(credit, 9).cast("decimal(38,12)")
                       .alias("_c"))
            .groupBy("touch_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_touches"),
                 F.round(F.sum("_c").cast("double"), 6).alias("credit")))


def markov_stationary(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    iterations: int = 3,
) -> DataFrame:
    """Stationary distribution of the behavioral Markov chain: estimate
    the per-user transition matrix from consecutive event pairs, then
    power-iterate π' = πP from uniform for a fixed number of rounds —
    the long-run "where do users spend their sessions" readout that
    completes the transition-matrix story.

    Cross-engine bit-stability (the PageRank recipe): transition
    probabilities are double divisions of exact counts; each π·p
    contribution is cast to DECIMAL(38,18) before summation (exact,
    order-invariant), cast back to double once per round.  States with
    no outgoing transitions drop their mass (the simple variant, same
    choice as the engine's PageRank — documented).  Plan: one user-key
    window for pairs, one 25-cell matrix aggregate, then ``iterations``
    tiny join+agg rounds.  Returns (state, prob)."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col),
                                             F.col(tiebreak_col))
    pairs = (df.withColumn("_prev", F.lag(type_col).over(w))
             .filter(F.col("_prev").isNotNull())
             .groupBy(F.col("_prev"), F.col(type_col).alias("_next"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("_n")))
    totals = pairs.groupBy("_prev").agg(F.sum("_n").cast("bigint")
                                        .alias("_ni"))
    from ..io import cut_lineage

    # r12: materialize the tiny transition matrix — every power-iteration
    # round re-embedded its subtree (the per-user window over the full
    # event stream ran once PER ROUND; the pagerank/hits iterative-state
    # pattern).
    p = cut_lineage(
        pairs.join(totals, "_prev")
        .select("_prev", "_next",
                (F.col("_n") / F.col("_ni").cast("double")).alias("_p")))

    states = cut_lineage(
        df.select(F.col(type_col).alias("state")).distinct())
    # state count rides along as a broadcast 1-row frame (the pagerank
    # shape) — no eager .count() job at plan-construction time
    nsv = states.agg(F.count(F.lit(1)).cast("bigint").alias("_ns"))
    pi = (states.crossJoin(F.broadcast(nsv))
          .select("state",
                  (F.lit(1.0) / F.col("_ns").cast("double")).alias("prob")))
    for _ in range(iterations):
        contribs = (p.join(pi.select(F.col("state").alias("_prev"), "prob"),
                           "_prev")
                    .select(F.col("_next").alias("state"),
                            (F.col("prob") * F.col("_p"))
                            .cast("decimal(38,18)").alias("_c")))
        sums = contribs.groupBy("state").agg(F.sum("_c").alias("_s"))
        pi = states.join(sums, "state", "left").select(
            "state",
            F.coalesce(F.col("_s").cast("double"), F.lit(0.0)).alias("prob"))
    return pi.select("state", F.round(F.col("prob"), 9).alias("prob"))


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival curve (Kaplan & Meier 1958) — the standard
    time-to-event estimator under right censoring (churn/conversion
    latency with users who never converted):

        S(t) = Π_{tᵢ <= t} (1 - dᵢ / nᵢ)

    over distinct observed-event times tᵢ with dᵢ deaths and nᵢ at risk.

    Scale design: the subject table collapses to ONE row per distinct
    duration (hash aggregate: deaths + censorings per time), at-risk
    counts come from a cumulative sum over that (small) time grid, and
    the running product is computed as exp(Σ ln(factor)) with each ln
    rounded to 9 dp and summed as DECIMAL(38,12) — partition-invariant
    and engine-exact at the final 6 dp round.  A zero factor (everyone
    at risk dies) forces survival to exactly 0 from that time on
    (tracked by a cumulative zero counter — never fed to ln).  The only
    ordered state is the distinct-duration grid.  Returns
    (t, n_risk, n_events, n_censored, survival) for event times only."""
    per_t = (df.groupBy(F.col(duration_col).alias("t"))
             .agg(F.sum(F.col(event_col).cast("int")).cast("bigint")
                  .alias("n_events"),
                  F.sum(1 - F.col(event_col).cast("int")).cast("bigint")
                  .alias("n_censored")))
    total = per_t.agg((F.sum("n_events") + F.sum("n_censored"))
                      .cast("bigint").alias("_tot"))
    w_prev = (Window.orderBy("t")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_cum = (Window.orderBy("t")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    g = (per_t.crossJoin(F.broadcast(total))
         .select("t", "n_events", "n_censored",
                 (F.col("_tot")
                  - F.coalesce(F.sum(F.col("n_events")
                                     + F.col("n_censored")).over(w_prev),
                               F.lit(0))).cast("bigint").alias("n_risk")))
    factor = F.lit(1.0) - F.col("n_events") / F.col("n_risk").cast("double")
    ln_term = F.when(F.col("n_events") < F.col("n_risk"),
                     F.round(F.log(factor), 9).cast("decimal(38,12)")) \
        .otherwise(F.lit(0).cast("decimal(38,12)"))
    zero = F.when(F.col("n_events") >= F.col("n_risk"), 1).otherwise(0)
    curve = g.select(
        "t", "n_risk", "n_events", "n_censored",
        F.sum(ln_term).over(w_cum).alias("_lnsum"),
        F.sum(zero).over(w_cum).alias("_nzero"))
    return (curve.filter(F.col("n_events") > 0)
            .select("t", "n_risk", "n_events", "n_censored",
                    F.when(F.col("_nzero") > 0, F.lit(0.0))
                    .otherwise(F.round(F.exp(
                        F.col("_lnsum").cast("double")), 6))
                    .alias("survival"))
            .orderBy("t"))


def rfm_segments(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_bins: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic CRM scoring: each user's three metrics are quantile-scored
    1..n_bins (n_bins = best) and mapped to a named segment.

    Determinism + scale: ONE user-key aggregate collapses the log to
    per-user metrics (recency in exact integer micros against the
    table-max timestamp — a pure function of the data, not wall clock;
    monetary as a decimal-exact sum); score bounds come from one
    3-percentile aggregate over the per-user table (broadcast, the
    :func:`~kiara_spark.operators.quality.quantile_bins` pattern — no
    global sort windows); scoring is a codegen comparison fold.  Returns
    (user, recency_us, frequency, monetary, r_score, f_score, m_score,
    segment)."""
    ref = df.agg(F.max(F.unix_micros(F.col(ts_col))).alias("_ref"))
    per_user = (df.crossJoin(F.broadcast(ref))
                .groupBy(F.col(user_col))
                .agg((F.first("_ref")
                      - F.max(F.unix_micros(F.col(ts_col))))
                     .cast("bigint").alias("recency_us"),
                     F.count(F.lit(1)).cast("bigint").alias("frequency"),
                     F.round(F.sum(F.col(value_col).cast("decimal(38,6)")),
                             4).cast("double").alias("monetary")))
    ps = [i / n_bins for i in range(1, n_bins)]
    arr = ", ".join(map(repr, ps))
    bounds = per_user.agg(
        F.expr(f"percentile(recency_us, array({arr}))").alias("_rb"),
        F.expr(f"percentile(frequency, array({arr}))").alias("_fb"),
        F.expr(f"percentile(monetary, array({arr}))").alias("_mb"))

    def _bin(col, bnds):
        return F.aggregate(
            F.col(bnds), F.lit(0),
            lambda acc, b: acc + F.when(F.col(col) > b, 1).otherwise(0))

    scored = (per_user.crossJoin(F.broadcast(bounds))
              .select(
                  user_col, "recency_us", "frequency", "monetary",
                  # low recency is GOOD: invert the ascending bin index
                  (F.lit(n_bins) - _bin("recency_us", "_rb"))
                  .cast("int").alias("r_score"),
                  (_bin("frequency", "_fb") + 1).cast("int")
                  .alias("f_score"),
                  (_bin("monetary", "_mb") + 1).cast("int")
                  .alias("m_score")))
    # segment thresholds scale with n_bins (for the default 5 they are the
    # classic hi=4 / lo=2 quintile rules); hardcoded literals would label
    # every user "champion" at n_bins=2
    import math

    hi = max(2, math.ceil(0.8 * n_bins))
    lo = max(0, math.floor(0.4 * n_bins))
    seg = (F.when((F.col("r_score") >= hi) & (F.col("f_score") >= hi)
                  & (F.col("m_score") >= hi), "champion")
           .when((F.col("r_score") <= lo) & (F.col("f_score") >= hi),
                 "at_risk")
           .when((F.col("r_score") <= lo) & (F.col("f_score") <= lo),
                 "hibernating")
           .otherwise("regular"))
    return scored.withColumn("segment", seg)


def funnel(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered conversion funnel: per user, the furthest step reached where
    each step's event occurs STRICTLY after the event that satisfied the
    previous step (the strict form is deliberate — it is the only ordering
    whose outcome is independent of how equal-timestamp events are broken,
    so the result is a pure function of (user, ts, type) and matches the
    sequential ``min(ts) > t_prev`` CTE chain any SQL engine would write).

    Scale design: ONE shuffle on the user key.  Events are filtered to the
    step vocabulary before the shuffle (map-side prune), collected into a
    per-user sorted array (bounded by per-user activity, the same state any
    funnel engine must hold), and the stage progression is a single
    ``F.aggregate`` fold over that array — whole-stage-codegen expressions,
    no Python, no per-step join round per funnel stage (a k-step funnel as
    sequential joins would cost k shuffles and k scans).  The per-step
    rollup then runs on one row per user.

    Returns one row per step: (step, event_type, users, pct_of_first,
    pct_of_prev), where ``users`` counts users whose progression reached at
    least that step.  Reference parity: kiara has no funnel module; this is
    the clickstream analog of its table.filter/aggregate family
    (reference src/kiara_plugin/tabular modules).
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    steps_lit = F.array(*[F.lit(s) for s in steps])
    ev = (df.filter(F.col(type_col).isin(list(steps)))
          .select(F.col(user_col).alias("_u"),
                  F.col(ts_col).alias("_ts"),
                  F.col(type_col).alias("_ty")))
    # Fold state: (stage reached so far, ts of the event that reached it).
    init = F.struct(
        F.lit(0).cast("int").alias("stage"),
        F.to_timestamp(F.lit("1000-01-01 00:00:00")).alias("t"))
    fold = F.aggregate(
        F.sort_array(F.collect_list(F.struct(
            F.col("_ts").alias("t"),
            F.col("_ty").alias("y")))), init,
        lambda acc, e: F.when(
            (acc["stage"] < F.lit(len(steps)))
            & (e["y"] == F.element_at(steps_lit, acc["stage"] + 1))
            & (e["t"] > acc["t"]),
            F.struct(
                (acc["stage"] + 1).alias("stage"), e["t"].alias("t")),
        ).otherwise(acc))
    # r12: the fold lives INSIDE the aggregate's result expression — as a
    # Project above the groupBy, the `_stage > 0` filter below pushed
    # through with alias substitution and the whole per-user fold ran
    # TWICE per user (once in the Filter, once in the Project); a filter
    # cannot substitute below an Aggregate, so this evaluates once.
    stages = ev.groupBy("_u").agg(fold["stage"].alias("_stage"))
    by_stage = (stages.filter(F.col("_stage") > 0)
                .groupBy("_stage")
                .agg(F.count(F.lit(1)).cast("bigint").alias("_n")))
    grid = df.sparkSession.range(1, len(steps) + 1).select(
        F.col("id").cast("int").alias("step"))
    # users reaching >= step: suffix sum over the tiny per-stage rollup.
    w = (Window.orderBy(F.col("step").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (grid.join(by_stage, grid["step"] == by_stage["_stage"], "left")
           .select("step", F.coalesce("_n", F.lit(0)).alias("_n"))
           .select("step", F.sum("_n").over(w).cast("bigint").alias("users")))
    w_prev = Window.orderBy("step")
    first_users = F.first("users").over(
        Window.orderBy("step").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
    prev_users = F.lag("users").over(w_prev)
    return (out.select(
        F.col("step").cast("bigint").alias("step"),
        F.element_at(steps_lit, F.col("step")).alias("event_type"),
        "users",
        F.when(first_users > 0,
               F.round(F.col("users").cast("double") / first_users, 6))
        .alias("pct_of_first"),
        F.when(prev_users > 0,
               F.round(F.col("users").cast("double") / prev_users, 6))
        .alias("pct_of_prev"))
        .orderBy("step"))


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention matrix: users are cohorted by the ISO week of
    their first event; each later week of activity increments that cohort's
    (week_offset) cell.  The canonical product-analytics readout.

    Plan: one hash aggregate collapses the log to (user, active_week)
    distinct pairs AND derives each user's cohort week in the same pass
    (min over the per-user weeks — no second scan of the raw log), then a
    tiny (cohort, offset) rollup.  Shuffles only on the user key and the
    cohort grid; the raw log is read once.  Retention is active/cohort_size
    with the offset-0 cell as the denominator (every user is active in
    their cohort week by construction).
    """
    pairs = (df.select(F.col(user_col).alias("_u"),
                       F.date_trunc("week", F.col(ts_col)).alias("_w"))
             .groupBy("_u", "_w").agg(F.lit(1))
             .select("_u", "_w"))
    with_cohort = pairs.select(
        "_u", "_w",
        F.min("_w").over(Window.partitionBy("_u")).alias("_cw"))
    cells = (with_cohort
             .groupBy("_cw", (F.datediff(F.col("_w"), F.col("_cw")) / 7)
                      .cast("bigint").alias("week_offset"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("active_users")))
    size = F.max(F.when(F.col("week_offset") == 0, F.col("active_users"))) \
        .over(Window.partitionBy("_cw"))
    return (cells.select(
        F.date_format("_cw", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset", "active_users",
        F.round(F.col("active_users").cast("double") / size, 6)
        .alias("retention"))
        .orderBy("cohort_week", "week_offset"))


EventsChangepointBinseg = _simple_module(
    "events.changepoint.binseg",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": changepoint_binseg(
        im["table"].data,
        **config_kwargs(self, "bucket", ts_col="ts_column"))},
    doc="single change-point by binary segmentation over the bucketed "
        "count series (exact-integer inputs, deterministic argmax)",
)

EventsPositionAttribution = _simple_module(
    "events.attribution.position_based",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": position_based_attribution(
        im["table"].data,
        touch_types=self.config["touch_types"],
        **config_kwargs(self, "conversion_type", user_col="user_column",
                        ts_col="ts_column", type_col="type_column"))},
    doc="U-shaped 40/20/40 multi-touch attribution (decimal-exact "
        "credit sums)",
)

EventsMarkovStationary = _simple_module(
    "events.markov_stationary",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": markov_stationary(
        im["table"].data,
        **config_kwargs(self, "iterations", user_col="user_column",
                        ts_col="ts_column", type_col="type_column"))},
    doc="stationary distribution of the behavioral Markov chain "
        "(decimal-exact power iteration)",
)

EventsKaplanMeier = _simple_module(
    "events.survival.kaplan_meier",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": kaplan_meier(
        im["table"].data,
        duration_col=self.config["duration_column"],
        event_col=self.config["event_column"])},
    doc="Kaplan-Meier survival curve under right censoring (distinct-"
        "duration aggregate + decimal-exact log-sum product)",
)

EventsRfmSegments = _simple_module(
    "events.rfm_segments",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": rfm_segments(
        im["table"].data,
        **config_kwargs(self, "n_bins", user_col="user_column",
                        ts_col="ts_column", value_col="value_column"))},
    doc="RFM quantile scoring + named segments (one user aggregate + "
        "broadcast percentile bounds)",
)

EventsIntervalCoverage = _simple_module(
    "events.interval_coverage",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": interval_coverage(
        im["table"].data,
        key_col=self.config.get("key_column", "user_id"),
        start_col=self.config["start_column"],
        end_col=self.config["end_column"])},
    doc="union-of-intervals coverage per key (merged islands + total "
        "covered duration, one key shuffle)",
)

EventsFunnel = _simple_module(
    "events.funnel",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": funnel(
        im["table"].data,
        steps=self.config["steps"],
        **config_kwargs(self, user_col="user_column", ts_col="ts_column",
                        type_col="type_column"))},
    doc="ordered conversion funnel (strict progression, one shuffle)",
)

EventsCohortRetention = _simple_module(
    "events.cohort_retention",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": cohort_retention(
        im["table"].data,
        **config_kwargs(self, user_col="user_column", ts_col="ts_column"))},
    doc="weekly cohort retention matrix (one raw-log pass)",
)


EventsAutocorrelation = _simple_module(
    "events.autocorrelation",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": autocorrelation(
        im["table"].data,
        **config_kwargs(self, "max_lag", ts_col="ts_column"))},
    doc="ACF of the hourly count series via exact bigint algebra "
        "(one raw-data pass, tiny series joins).",
)

EventsSeasonalDecompose = _simple_module(
    "events.seasonal_decompose",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": seasonal_decompose(
        im["table"].data,
        **config_kwargs(self, "period", "window", ts_col="ts_column"))},
    doc="Additive trend/seasonal/residual decomposition of an hourly "
        "count series (centered moving average + per-phase means).",
)

MODULES = [EventsDebounce, EventsCumulativeDistinct, EventsResampleOhlc,
           EventsAttribution, TableGapsIslands, EventsEwma, EventsPathNgrams,
           EventsCappedBalance, EventsSeasonalDecompose,
           EventsAutocorrelation, EventsFunnel, EventsCohortRetention,
           EventsIntervalCoverage, EventsRfmSegments, EventsKaplanMeier,
           EventsMarkovStationary, EventsPositionAttribution,
           EventsChangepointBinseg]
# extended below once the remaining module classes are defined
EventsHoltForecast = _simple_module(
    "events.holt_forecast",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": holt_linear_forecast(
        im["table"].data,
        **config_kwargs(self, "alpha", "beta", "horizon", ts_col="ts_column",
                        value_col="value_column"))},
    doc="Holt double exponential smoothing forecast (daily aggregate + "
        "in-plan array-fold recursion)",
)

EventsSequencePattern = _simple_module(
    "events.sequence_pattern",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": sequence_pattern(
        im["table"].data, self.config["pattern"],
        **config_kwargs(self, user_col="user_column", ts_col="ts_column",
                        type_col="type_column"))},
    doc="MATCH_RECOGNIZE-lite regex matching over per-key ordered "
        "event sequences",
)

EventsDftPeriodogram = _simple_module(
    "events.dft_periodogram",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": dft_periodogram(
        im["table"].data,
        **config_kwargs(self, "min_period", "max_period",
                        ts_col="ts_column"))},
    doc="Goertzel-style DFT power at candidate day periods (cycle "
        "detection over the daily count series)",
)

EventsCrossCorrelation = _simple_module(
    "events.cross_correlation",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": cross_correlation(
        im["table"].data,
        self.config["type_a"], self.config["type_b"],
        **config_kwargs(self, "max_lag", ts_col="ts_column",
                        type_col="type_column"))},
    doc="lagged Pearson cross-correlation between two event types' "
        "daily series (lead/lag detection)",
)

EventsActiveUsers = _simple_module(
    "events.active_users",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": active_users(
        im["table"].data,
        **config_kwargs(self, "windows", ts_col="ts_column",
                        user_col="user_column"))},
    doc="DAU/WAU/MAU trailing-window distinct actives via user-day "
        "fan-out (never COUNT(DISTINCT) OVER RANGE)",
)

OPERATIONS = [
    Operation("events.active_users", "events.active_users",
              doc="DAU/WAU/MAU trailing distinct-active counts"),
    Operation("events.dft_periodogram", "events.dft_periodogram",
              doc="DFT periodogram over the daily count series"),
    Operation("events.cross_correlation", "events.cross_correlation",
              doc="lagged cross-correlation between two event-type series"),
    Operation("events.sequence_pattern", "events.sequence_pattern",
              doc="row-pattern recognition (regex CEP) per key"),
    Operation("events.holt_forecast", "events.holt_forecast",
              doc="Holt linear-trend forecast over the daily series"),
    Operation("events.survival.kaplan_meier", "events.survival.kaplan_meier",
              doc="Kaplan-Meier survival curve under right censoring"),
    Operation("events.markov_stationary", "events.markov_stationary",
              doc="stationary distribution of the behavioral Markov chain"),
    Operation("events.attribution.position_based",
              "events.attribution.position_based",
              doc="U-shaped 40/20/40 multi-touch attribution"),
    Operation("events.changepoint.binseg", "events.changepoint.binseg",
              doc="binary-segmentation change-point over bucketed counts"),
    Operation("events.rfm_segments", "events.rfm_segments",
              doc="RFM quantile scoring + named segments"),
    Operation("events.interval_coverage", "events.interval_coverage",
              doc="union-of-intervals coverage per key"),
    Operation("events.funnel", "events.funnel",
              doc="ordered conversion funnel (strict progression)"),
    Operation("events.cohort_retention", "events.cohort_retention",
              doc="weekly cohort retention matrix"),
    Operation("events.seasonal_decompose", "events.seasonal_decompose",
              doc="trend/seasonal/residual decomposition of hourly counts"),
    Operation("events.autocorrelation", "events.autocorrelation",
              doc="exact-integer ACF of the hourly count series"),
    Operation("events.balance.capped", "events.balance.capped",
              doc="floored running balance (sequential per-key fold)"),
    Operation("events.ewma", "events.ewma",
              doc="truncated-horizon EWMA over resampled series"),
    Operation("events.path_ngrams", "events.path_ngrams",
              doc="top-k consecutive event paths"),
    Operation("events.dedup.debounce", "events.dedup.debounce",
              doc="near-time duplicate drop (lag-debounce)"),
    Operation("events.cumulative_distinct", "events.cumulative_distinct",
              doc="daily new + running distinct entities"),
    Operation("events.resample.ohlc", "events.resample.ohlc",
              doc="OHLC downsample bars"),
    Operation("events.attribution.last_touch", "events.attribution.last_touch",
              doc="last-touch conversion attribution"),
    Operation("table.gaps_islands", "table.gaps_islands",
              doc="gaps-and-islands run collapse"),
]

MODULES += [EventsHoltForecast, EventsSequencePattern,
            EventsDftPeriodogram, EventsCrossCorrelation,
            EventsActiveUsers]


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator — the additive companion
    to :func:`kaplan_meier` (H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ; hazard is what Cox
    models and competing-risk analyses consume; Ŝ(t) = e^{−H(t)} is the
    Fleming-Harrington survival variant):

        H(t) = Σ dᵢ/nᵢ,   Var(H) = Σ dᵢ(nᵢ−dᵢ)/nᵢ³

    Scale design: identical grid to KM — one distinct-duration hash
    aggregate; at-risk counts and the two cumulative hazard sums run as
    the range-partitioned :func:`quality._prefix_sums` (round-9 decimal
    terms, partition-invariant; no unpartitioned window even for
    near-unique durations).  Returns event-time rows:
    (t, n_risk, n_events, cum_hazard, var_hazard, survival_fh)."""
    from .quality import _prefix_sums, _split_cast

    per_t = (df.groupBy(F.col(duration_col).alias("t"))
             .agg(F.sum(F.col(event_col).cast("int")).cast("bigint")
                  .alias("n_events"),
                  F.sum(1 - F.col(event_col).cast("int")).cast("bigint")
                  .alias("n_censored")))
    staged = per_t.withColumn(
        "_at", (F.col("n_events") + F.col("n_censored"))
        .cast("decimal(38,0)"))
    pre = _prefix_sums(staged, "t", [("_at", "_seen")])
    # r12: the subject total is the last grid row's exclusive prefix +
    # its own count (exact decimal addition of the same counts), read
    # off the checkpointed prefix grid instead of re-aggregating per_t,
    # which re-ran the full table scan.
    total = pre.agg(F.max_by(F.col("_seen") + F.col("_at"), F.col("t"))
                    .cast("decimal(38,0)").alias("_tot"))
    g = (pre.crossJoin(F.broadcast(total))
         .select("t", "n_events", "n_censored",
                 (F.col("_tot") - F.col("_seen")).cast("bigint")
                 .alias("n_risk")))
    d = F.col("n_events").cast("double")
    n = F.col("n_risk").cast("double")
    h_term = F.round(d / n, 9).cast("decimal(38,12)")
    v_term = F.round(d * (n - d) / (n * n * n), 9).cast("decimal(38,12)")
    terms = g.select("t", "n_risk", "n_events",
                     h_term.alias("_h"), v_term.alias("_v"))
    cum = _prefix_sums(terms, "t",
                       [("_h", "_hc", "decimal(38,12)"),
                        ("_v", "_vc", "decimal(38,12)")], inclusive=True)
    return (cum.filter(F.col("n_events") > 0)
            .select("t", "n_risk", "n_events",
                    F.round(_split_cast(F.col("_hc")), 6)
                    .alias("cum_hazard"),
                    F.round(_split_cast(F.col("_vc")), 9)
                    .alias("var_hazard"),
                    F.round(F.exp(-_split_cast(F.col("_hc"))), 6)
                    .alias("survival_fh"))
            .orderBy("t"))


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Log-rank test — do two survival curves differ?  (the standard
    A/B readout for time-to-event metrics: churn, conversion latency;
    a mean comparison is WRONG under censoring, this is the right test.)

        U = Σ_t (d_a − n_a·d/n),
        V = Σ_t n_a n_b d (n−d) / (n² (n−1)),   χ² = U²/V  (df = 1)

    Scale design: one (duration) hash aggregate with per-group death /
    censor counts; per-group at-risk counts come from ONE range-
    partitioned prefix pass over the time grid
    (:func:`quality._prefix_sums`, two sums); the O−E and variance terms
    are round-9 decimal sums; p = exact erfc(√(χ²/2)).  Returns one
    row: (n_a, n_b, events_a, events_b, o_minus_e, variance, chi2,
    p_value)."""
    from .quality import _erfc_as, _prefix_sums, _split_cast

    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    ev = F.col(event_col).cast("int")
    base = df.filter(in_a | in_b)
    per_t = (base.groupBy(F.col(duration_col).alias("t"))
             .agg(F.sum(F.when(in_a, ev).otherwise(0)).cast("bigint")
                  .alias("_da"),
                  F.sum(F.when(in_b, ev).otherwise(0)).cast("bigint")
                  .alias("_db"),
                  F.sum(F.when(in_a, 1).otherwise(0))
                  .cast("decimal(38,0)").alias("_ta"),
                  F.sum(F.when(in_b, 1).otherwise(0))
                  .cast("decimal(38,0)").alias("_tb")))
    pre = _prefix_sums(per_t, "t", [("_ta", "_sa"), ("_tb", "_sb")])
    # r12: per-group totals read off the checkpointed prefix grid (last
    # row's exclusive prefix + own count — exact decimal addition)
    # instead of re-aggregating per_t, which re-ran the full table scan.
    tot = pre.agg(F.max_by(F.col("_sa") + F.col("_ta"), F.col("t"))
                  .cast("decimal(38,0)").alias("_na"),
                  F.max_by(F.col("_sb") + F.col("_tb"), F.col("t"))
                  .cast("decimal(38,0)").alias("_nb"))
    g = (pre.crossJoin(F.broadcast(tot))
         .select("t", "_da", "_db",
                 (F.col("_na") - F.col("_sa")).cast("bigint").alias("_ra"),
                 (F.col("_nb") - F.col("_sb")).cast("bigint").alias("_rb")))
    da = F.col("_da").cast("double")
    dd = (F.col("_da") + F.col("_db")).cast("double")
    ra, rb = F.col("_ra").cast("double"), F.col("_rb").cast("double")
    nn = ra + rb
    u_term = F.round(da - ra * dd / nn, 9).cast("decimal(38,12)")
    v_term = F.when(
        F.col("_ra") + F.col("_rb") > 1,
        F.round(ra * rb * dd * (nn - dd) / (nn * nn * (nn - F.lit(1.0))),
                9).cast("decimal(38,12)")) \
        .otherwise(F.lit(0).cast("decimal(38,12)"))
    agg = (g.filter(F.col("_da") + F.col("_db") > 0)
           .agg(F.sum(F.col("_da")).cast("bigint").alias("events_a"),
                F.sum(F.col("_db")).cast("bigint").alias("events_b"),
                F.sum(u_term).alias("_u"), F.sum(v_term).alias("_v"))
           .crossJoin(F.broadcast(tot)))
    u, vv = _split_cast(F.col("_u")), _split_cast(F.col("_v"))
    chi = F.when(vv > 0, u * u / vv)
    p = F.when(chi.isNotNull(),
               F.round(F.least(_erfc_as(F.sqrt(chi / 2)), F.lit(1.0)), 9))
    return agg.select(
        F.col("_na").cast("bigint").alias("n_a"),
        F.col("_nb").cast("bigint").alias("n_b"),
        "events_a", "events_b",
        F.round(u, 6).alias("o_minus_e"),
        F.round(vv, 6).alias("variance"),
        F.round(chi, 6).alias("chi2"),
        F.round(p, 6).alias("p_value"))


def mann_kendall_trend(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = None,
    bucket: str = "day",
    max_buckets: int | None = 5000,
) -> DataFrame:
    """Mann-Kendall trend test + Sen's slope over the bucketed series —
    the standard nonparametric "is this metric drifting?" monitor
    (monotonic trend without assuming linearity or normality; Sen's
    slope is the robust rate estimate a single spike can't bend):

        S = Σ_{i<j} sign(x_j − x_i),
        Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)] / 18,
        z = (S∓1)/√Var,   slope = median{(x_j−x_i)/(j−i)}

    Scale design: the raw log collapses to ONE bucket aggregate (counts,
    or exact 2-dp sums of ``value_col``); everything pairwise runs on
    the BOUNDED bucket grid.  S and the tie term are exact integers;
    z and the erfc p are terminal fixed-order doubles; Sen's slope is
    the exact lower median of the slope multiset, picked on the
    DISTINCT-slope grid via range-partitioned prefix counts
    (:func:`~.quality._prefix_sums`) — no unpartitioned global-order
    window anywhere (r8 ADVICE).

    Bucket-count envelope (r8 VERDICT item 5): the pair join is
    O(buckets²) — bounded by the CALENDAR HORIZON, not data volume
    (10y daily ≈ 3.65k buckets → 6.6M pairs, fine; a multi-year
    MINUTE-bucket call is millions of buckets → 10^12 pairs, a plan
    that must not be built).  ``max_buckets`` (default 5000 ≈ 12.5M
    pairs) counts the grid first and raises past the envelope —
    coarsen ``bucket`` or raise ``max_buckets`` explicitly, the
    :func:`~.dedup.ngram_jaccard_pairs` ``max_block_size`` convention.
    Returns one row: (n_buckets, s_stat, var_s, z, p_value, sen_slope)."""
    from .quality import _erfc_as, _prefix_sums, _split_cast

    if value_col:
        d2 = lambda e: F.round(e, 2).cast("decimal(38,2)")  # noqa: E731
        x = F.col(value_col).cast("double")
        daily = (df.filter(x.isNotNull())
                 .groupBy(F.date_trunc(bucket, F.col(ts_col)).alias("_b"))
                 .agg(F.sum(d2(x)).alias("_sv"),
                      F.count(F.lit(1)).cast("bigint").alias("_n")))
        val = F.round(_split_cast(F.col("_sv"))
                      / F.col("_n").cast("double"), 9)
    else:
        daily = (df.groupBy(F.date_trunc(bucket, F.col(ts_col))
                            .alias("_b"))
                 .agg(F.count(F.lit(1)).cast("bigint").alias("_n")))
        val = F.col("_n").cast("double")
    if max_buckets is not None:
        nb_actual = daily.count()
        if nb_actual > max_buckets:
            raise ValueError(
                f"mann_kendall_trend: {nb_actual} {bucket!r} buckets exceed "
                f"max_buckets={max_buckets}; the S statistic is O(buckets²) "
                f"pairwise ({nb_actual * (nb_actual - 1) // 2} pairs) - use a "
                f"coarser bucket ('day'/'week'/'month') or raise max_buckets "
                f"explicitly")
    w = Window.orderBy("_b")
    ser = daily.select(F.row_number().over(w).cast("bigint").alias("_i"),
                       F.round(val, 9).alias("_x"))
    a = ser.select(F.col("_i").alias("_i1"), F.col("_x").alias("_x1"))
    b = ser.select(F.col("_i").alias("_i2"), F.col("_x").alias("_x2"))
    pairs = a.join(b, F.col("_i1") < F.col("_i2"))
    sgn = F.signum(F.col("_x2") - F.col("_x1")).cast("bigint")
    slope = ((F.col("_x2") - F.col("_x1"))
             / (F.col("_i2") - F.col("_i1")).cast("double"))
    stats = pairs.agg(
        F.sum(sgn).cast("bigint").alias("_s"),
        F.count(F.lit(1)).cast("bigint").alias("_np"))
    ties = (ser.groupBy("_x").agg(F.count(F.lit(1)).cast("bigint")
                                  .alias("_t"))
            .agg(F.sum(F.col("_t") * (F.col("_t") - 1)
                       * (2 * F.col("_t") + 5)).cast("bigint")
                 .alias("_tc"),
                 F.sum("_t").cast("bigint").alias("_nb")))
    # lower median on the DISTINCT-slope grid: min slope whose inclusive
    # cumulative pair count reaches half - identical value to ranking
    # every pair, but the prefix is range-partitioned instead of one
    # serial O(pairs) window task (r8 ADVICE)
    per_sl = (pairs.groupBy(slope.alias("_sl"))
              .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_c")))
    cum = _prefix_sums(per_sl, "_sl", [("_c", "_cm")], inclusive=True)
    medv = (cum.crossJoin(F.broadcast(stats.select("_np")))
            .filter(F.col("_cm").cast("bigint") * 2 >= F.col("_np"))
            .agg(F.min("_sl").alias("_sen")))
    j = (stats.crossJoin(F.broadcast(ties))
         .crossJoin(F.broadcast(medv)))
    nb = F.col("_nb").cast("double")
    var_s = ((nb * (nb - 1) * (2 * nb + 5)
              - F.col("_tc").cast("double")) / F.lit(18.0))
    s = F.col("_s").cast("double")
    z = F.when(F.col("_s") > 0, (s - 1) / F.sqrt(var_s)) \
        .when(F.col("_s") < 0, (s + 1) / F.sqrt(var_s)) \
        .otherwise(F.lit(0.0))
    p = F.when(var_s > 0,
               F.round(F.least(_erfc_as(F.abs(z) / F.sqrt(F.lit(2.0))),
                               F.lit(1.0)), 9))
    return j.select(
        F.col("_nb").alias("n_buckets"),
        F.col("_s").alias("s_stat"),
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p_value"),
        F.round(F.col("_sen"), 6).alias("sen_slope"))


def durbin_watson(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = None,
    bucket: str = "day",
) -> DataFrame:
    """Durbin-Watson statistic of the detrended bucketed series — "are
    the residuals of the daily trend AUTOCORRELATED?" (DW ≈ 2 means
    independent residuals; « 2 means positive autocorrelation — the
    diagnostic that says whether day-level observations can be treated
    as independent by the other tests):

        e_t = y_t − (a + b·t)   (OLS on the bucket index),
        DW  = Σ(e_t − e_{t−1})² / Σe_t²

    Scale design: one bucket aggregate (counts or exact 2-dp means,
    split-cast); the OLS fit uses exact integer index sums and round-9
    y-terms over the BOUNDED bucket series; residual lags are an
    ordered window over the same bounded series.  Returns one row:
    (n_buckets, slope, intercept, dw, rho_approx)."""
    from .quality import _split_cast

    if value_col:
        d2 = lambda e: F.round(e, 2).cast("decimal(38,2)")  # noqa: E731
        x = F.col(value_col).cast("double")
        daily = (df.filter(x.isNotNull())
                 .groupBy(F.date_trunc(bucket, F.col(ts_col)).alias("_b"))
                 .agg(F.sum(d2(x)).alias("_sv"),
                      F.count(F.lit(1)).cast("bigint").alias("_n")))
        val = F.round(_split_cast(F.col("_sv"))
                      / F.col("_n").cast("double"), 9)
    else:
        daily = (df.groupBy(F.date_trunc(bucket, F.col(ts_col))
                            .alias("_b"))
                 .agg(F.count(F.lit(1)).cast("bigint").alias("_n")))
        val = F.col("_n").cast("double")
    w = Window.orderBy("_b")
    ser = daily.select(F.row_number().over(w).cast("bigint").alias("_i"),
                       F.round(val, 9).alias("_y"))
    td = F.col("_i").cast("double")
    fit = ser.agg(
        F.count(F.lit(1)).cast("bigint").alias("_nb"),
        F.sum("_i").cast("decimal(38,0)").alias("_st"),
        F.sum(F.col("_i") * F.col("_i")).cast("decimal(38,0)").alias("_stt"),
        F.sum(F.round(F.col("_y"), 9).cast("decimal(38,12)")).alias("_sy"),
        F.sum(F.round(td * F.col("_y"), 9).cast("decimal(38,12)"))
        .alias("_sty"))
    nb = F.col("_nb").cast("double")
    st, stt = _split_cast(F.col("_st")), _split_cast(F.col("_stt"))
    sy, sty = _split_cast(F.col("_sy")), _split_cast(F.col("_sty"))
    slope = (nb * sty - st * sy) / (nb * stt - st * st)
    icept = (sy - slope * st) / nb
    params = fit.select(F.col("_nb"), slope.alias("_sl"),
                        icept.alias("_ic"))
    resid = (ser.crossJoin(F.broadcast(params))
             .select("_i", "_nb", "_sl", "_ic",
                     (F.col("_y") - (F.col("_ic")
                                     + F.col("_sl") * td)).alias("_e")))
    lag = F.lag("_e").over(Window.orderBy("_i"))
    d9 = lambda e: F.round(e, 9).cast("decimal(38,12)")  # noqa: E731
    agg = (resid.select("_nb", "_sl", "_ic", "_e",
                        (F.col("_e") - lag).alias("_de"))
           .agg(F.min("_nb").alias("n_buckets"),
                F.min("_sl").alias("_slo"), F.min("_ic").alias("_icp"),
                F.sum(d9(F.col("_e") * F.col("_e"))).alias("_se2"),
                F.sum(d9(F.col("_de") * F.col("_de"))).alias("_sd2")))
    se2 = F.col("_se2").cast("double")
    dw = F.when(se2 > 0, F.col("_sd2").cast("double") / se2)
    return agg.select(
        "n_buckets",
        F.round(F.col("_slo"), 6).alias("slope"),
        F.round(F.col("_icp"), 6).alias("intercept"),
        F.round(dw, 6).alias("dw"),
        F.round(F.lit(1.0) - dw / F.lit(2.0), 6).alias("rho_approx"))


def sprt_monitor(
    df: DataFrame,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
    ts_col: str = "ts",
    user_col: str = "user_id",
    event_type_col: str = "event_type",
    conversion_type: str = "purchase",
) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over the daily conversion
    stream — the "peek every day without inflating α" experiment monitor
    (fixed-horizon tests like `stats_welch_ttest_orders` forbid early
    stopping; SPRT's boundaries A = ln((1−β)/α), B = ln(β/(1−α)) make
    daily peeking valid).

        LLR_t = Σ_{d≤t} [ c_d·ln(p1/p0) + (n_d−c_d)·ln((1−p1)/(1−p0)) ]

    with n_d = distinct active users, c_d = distinct converting users on
    day d.  Scale design: ONE daily distinct aggregate over the raw log
    (the only heavy pass); the cumulative LLR and decisions run over the
    bounded day series (ordered window — deterministic float order).
    The ln() factors are plan-time literals.  Returns per day:
    (day, trials, conversions, llr, decision)."""
    import math as _m

    la = _m.log(p1 / p0)
    lb = _m.log((1.0 - p1) / (1.0 - p0))
    upper = _m.log((1.0 - beta) / alpha)
    lower = _m.log(beta / (1.0 - alpha))
    daily = (df.groupBy(F.to_date(F.col(ts_col)).alias("_d"))
             .agg(F.countDistinct(F.col(user_col)).cast("bigint")
                  .alias("_n"),
                  F.countDistinct(
                      F.when(F.col(event_type_col) == conversion_type,
                             F.col(user_col))).cast("bigint").alias("_c")))
    term = (F.col("_c").cast("double") * F.lit(la)
            + (F.col("_n") - F.col("_c")).cast("double") * F.lit(lb))
    w = Window.orderBy("_d").rowsBetween(Window.unboundedPreceding, 0)
    llr = F.sum(F.round(term, 9)).over(w)
    out = daily.select(
        F.date_format("_d", "yyyy-MM-dd").alias("day"),
        F.col("_n").alias("trials"),
        F.col("_c").alias("conversions"),
        F.round(llr, 6).alias("llr"),
        F.when(llr >= upper, F.lit("accept_h1"))
        .when(llr <= lower, F.lit("accept_h0"))
        .otherwise(F.lit("continue")).alias("decision"))
    return out


def page_hinkley(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    delta: float = 0.1,
    threshold: float = 5.0,
) -> DataFrame:
    """Page-Hinkley mean-drift detector over the daily-mean series — the
    streaming-monitoring companion to the offline
    `events_changepoint_binseg` (PH is the sequential test; binseg is
    the retrospective search).

        m_t  = Σ_{d≤t} (x_d − x̄_d − δ)    (x̄_d = running mean up to d)
        PH_t = m_t − min_{s≤t} m_s         (alarm when PH_t > λ)

    Scale design: daily means come from ONE exact 2-dp decimal-sum
    aggregate over the raw log (the only heavy pass; split-cast to
    double); every cumulative (sum, running mean, running min) is an
    ordered window over the bounded day series — deterministic float
    order, identical on both engines.  Returns per day:
    (day, n, day_mean, m_t, ph, alarm)."""
    d2 = lambda e: F.round(e, 2).cast("decimal(38,2)")  # noqa: E731
    from .quality import _split_cast

    x = F.col(value_col).cast("double")
    daily = (df.filter(x.isNotNull())
             .groupBy(F.to_date(F.col(ts_col)).alias("_d"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("_n"),
                  F.sum(d2(x)).alias("_s")))
    w = Window.orderBy("_d").rowsBetween(Window.unboundedPreceding, 0)
    xd = F.round(_split_cast(F.col("_s")) / F.col("_n").cast("double"), 9)
    staged = daily.select(
        "_d", "_n", xd.alias("_x"),
        F.sum(F.round(xd, 9)).over(w).alias("_cs"),
        F.count(F.lit(1)).over(w).cast("double").alias("_t"))
    term = F.round(F.col("_x") - F.col("_cs") / F.col("_t")
                   - F.lit(delta), 9)
    w2 = Window.orderBy("_d").rowsBetween(Window.unboundedPreceding, 0)
    m_t = F.sum(term).over(w2)
    staged2 = staged.select("_d", "_n", "_x", m_t.alias("_m"))
    ph = F.col("_m") - F.min("_m").over(w2)
    return staged2.select(
        F.date_format("_d", "yyyy-MM-dd").alias("day"),
        F.col("_n").alias("n"),
        F.round(F.col("_x"), 6).alias("day_mean"),
        F.round(F.col("_m"), 6).alias("m_t"),
        F.round(ph, 6).alias("ph"),
        (ph > threshold).alias("alarm"))


EventsSprtMonitor = _simple_module(
    "events.sprt_monitor",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": sprt_monitor(
        im["table"].data, self.config["p0"], self.config["p1"],
        **config_kwargs(self, "alpha", "beta", "conversion_type"))},
    doc="Wald SPRT daily experiment monitor: cumulative conversion LLR "
        "vs ln boundaries (valid daily peeking).",
)

EventsPageHinkley = _simple_module(
    "events.page_hinkley",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": page_hinkley(
        im["table"].data,
        **config_kwargs(self, "delta", "threshold",
                        value_col="value_column"))},
    doc="Page-Hinkley sequential mean-drift detector over daily means.",
)

EventsNelsonAalen = _simple_module(
    "events.survival.nelson_aalen",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": nelson_aalen(
        im["table"].data, self.config["duration_column"],
        self.config["event_column"])},
    doc="Nelson-Aalen cumulative hazard + Fleming-Harrington survival "
        "(the additive companion to Kaplan-Meier).",
)

EventsLogrank = _simple_module(
    "events.survival.logrank",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": logrank_test(
        im["table"].data, self.config["duration_column"],
        self.config["event_column"], self.config["group_column"],
        self.config["group_a"], self.config["group_b"])},
    doc="Log-rank test: do two censored survival curves differ? "
        "(O-E chi2 over event times, exact erfc p).",
)

EventsDurbinWatson = _simple_module(
    "events.durbin_watson",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": durbin_watson(
        im["table"].data,
        **config_kwargs(self, "bucket", ts_col="ts_column",
                        value_col="value_column"))},
    doc="Durbin-Watson residual-autocorrelation diagnostic of the "
        "detrended bucketed series.",
)

EventsMannKendall = _simple_module(
    "events.mann_kendall_trend",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": mann_kendall_trend(
        im["table"].data,
        **config_kwargs(self, "bucket", ts_col="ts_column",
                        value_col="value_column"))},
    doc="Mann-Kendall monotonic-trend test + Sen's robust slope over "
        "the bucketed series (exact pairwise signs on the bounded grid).",
)

OPERATIONS += [
    Operation("events.mann_kendall_trend", "events.mann_kendall_trend",
              doc="Mann-Kendall trend test + Sen's slope"),
    Operation("events.durbin_watson", "events.durbin_watson",
              doc="Durbin-Watson residual autocorrelation diagnostic"),
    Operation("events.sprt_monitor", "events.sprt_monitor",
              doc="SPRT sequential experiment monitor (daily LLR)"),
    Operation("events.page_hinkley", "events.page_hinkley",
              doc="Page-Hinkley sequential mean-drift detector"),
    Operation("events.survival.nelson_aalen",
              "events.survival.nelson_aalen",
              doc="Nelson-Aalen cumulative-hazard estimator"),
    Operation("events.survival.logrank", "events.survival.logrank",
              doc="log-rank two-curve survival test"),
]

MODULES += [EventsSprtMonitor, EventsPageHinkley, EventsNelsonAalen,
            EventsLogrank, EventsMannKendall, EventsDurbinWatson]


def shapley_attribution(
    df: DataFrame,
    channels: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    conversion_type: str = "purchase",
) -> DataFrame:
    """Shapley-value channel attribution (Zhao, Mahboobi & Manavoglu
    2018; the game-theoretic member of the attribution family next to
    :func:`last_touch_attribution`, :func:`position_based_attribution`
    and :func:`markov_stationary`): the coalition value v(S) is the
    observed conversion rate of users whose EXACT touched-channel set is
    S, and each channel's credit is its average marginal contribution

        φ(i) = Σ_{S ⊆ K∖{i}} |S|!·(k−|S|−1)!/k! · (v(S∪{i}) − v(S))

    over the fixed channel vocabulary K (``channels`` — the bounded-
    cardinality contract; |K| ≤ ~10 keeps the 2^k grid trivial).
    Unobserved subsets take v = 0 and users touching no channel are
    excluded (v(∅) = 0 baseline) — the standard practical conventions,
    which preserve efficiency: Σ φ(i) = v(K).

    Scale design: ONE user-keyed aggregate (collect_set over the
    ≤k-channel vocabulary — bounded state), ONE subset-keyed hash
    aggregate (≤2^k groups), then every join runs on broadcast literal
    grids of ≤k·2^{k-1} rows.  Determinism: v = bigint/bigint doubles,
    factorial weights are Python-double literals shared verbatim with
    the SQL twin, marginal terms round-9 into exact decimal sums.
    Returns per channel: (channel, n_users, n_conversions, shapley)."""
    import math
    from itertools import combinations

    k = len(channels)
    pairs = []
    for ch in channels:
        others = [c for c in channels if c != ch]
        for r in range(k):
            for s in combinations(others, r):
                w = (math.factorial(r) * math.factorial(k - r - 1)
                     / math.factorial(k))
                pairs.append((ch, ",".join(sorted(s)),
                              ",".join(sorted(s + (ch,))), w))
    spark = df.sparkSession
    grid = spark.createDataFrame(
        pairs, "channel string, s0 string, s1 string, w double")

    per_user = (df.groupBy(user_col).agg(
        F.concat_ws(",", F.array_sort(F.collect_set(
            F.when(F.col(type_col).isin(channels), F.col(type_col))))
        ).alias("_key"),
        F.max((F.col(type_col) == conversion_type).cast("int"))
        .alias("_conv")))
    subsets = (per_user.filter(F.col("_key") != "")
               .groupBy("_key")
               .agg(F.count(F.lit(1)).cast("bigint").alias("_nu"),
                    F.sum("_conv").cast("bigint").alias("_nc")))
    v = subsets.select("_key",
                       (F.col("_nc").cast("double") / F.col("_nu"))
                       .alias("_v"))
    joined = (grid
              .join(F.broadcast(v.withColumnRenamed("_key", "s0")
                                .withColumnRenamed("_v", "_v0")),
                    "s0", "left")
              .join(F.broadcast(v.withColumnRenamed("_key", "s1")
                                .withColumnRenamed("_v", "_v1")),
                    "s1", "left"))
    contrib = (F.col("w") * (F.coalesce("_v1", F.lit(0.0))
                             - F.coalesce("_v0", F.lit(0.0))))
    shap = (joined.groupBy("channel")
            .agg(F.sum(F.round(contrib, 9).cast("decimal(38,12)"))
                 .cast("double").alias("_shap")))
    touch = (subsets
             .select(F.explode(F.split("_key", ",")).alias("channel"),
                     "_nu", "_nc")
             .groupBy("channel")
             .agg(F.sum("_nu").cast("bigint").alias("n_users"),
                  F.sum("_nc").cast("bigint").alias("n_conversions")))
    return (shap.join(F.broadcast(touch), "channel", "left")
            .select("channel",
                    F.coalesce("n_users", F.lit(0)).cast("bigint")
                    .alias("n_users"),
                    F.coalesce("n_conversions", F.lit(0)).cast("bigint")
                    .alias("n_conversions"),
                    F.round(F.col("_shap"), 6).alias("shapley")))


EventsShapleyAttribution = _simple_module(
    "events.attribution.shapley",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": shapley_attribution(
        im["table"].data, self.config["channels"],
        **config_kwargs(self, "conversion_type", user_col="user_column",
                        type_col="type_column"))},
    doc="Shapley-value channel attribution over exact touched-channel "
        "subsets (Zhao et al. 2018): average marginal conversion-rate "
        "contribution per channel; efficiency holds by construction.",
)

OPERATIONS += [
    Operation("events.attribution.shapley", "events.attribution.shapley",
              doc="game-theoretic Shapley channel attribution "
                  "(exact-subset coalition values)"),
]

MODULES += [EventsShapleyAttribution]
