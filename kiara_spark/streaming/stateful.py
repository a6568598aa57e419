"""Custom stateful operators over the Arrow/pandas boundary.

The reference's module contract allows arbitrary stateful Python over whole
values (``src/kiara/modules/__init__.py:523-559``); Spark's equivalents for
*distributed, per-key* state are ``applyInPandas`` (batch grouped-map) and
``applyInPandasWithState`` (streaming keyed state).  Sessionization with an
inactivity gap is the canonical case Spark's built-in ``session_window``
covers only partially (it can't carry custom per-session accumulators), so it
doubles as the template for arbitrary stateful ops.

Scale design: both paths shuffle once on the key and then stream Arrow
batches through vectorized pandas; per-key state is O(1) (current open
session), so executor memory is bounded regardless of history length —
exactly the profile needed for billions of keys at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..modules import TABLE, _simple_module, config_kwargs
from ..operations import Operation

SESSION_SCHEMA = ("user_id long, session_start_us long, session_end_us long, "
                  "n_events long")


def sessionize_pandas(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: float = 1800.0,
) -> DataFrame:
    """Batch sessionization via grouped-map pandas UDF: per key, sort by
    time, split where the inactivity gap exceeds ``gap_seconds``.

    Deterministic (ties at identical timestamps land in the same session), so
    a SQL oracle (lag + running sum of breaks) reproduces it exactly.
    """
    gap_us = int(gap_seconds * 1_000_000)

    def fn(batches):
        import pandas as pd

        # One vectorized pass per PARTITION, not per key: with millions of
        # small keys, per-group UDF invocation overhead dominates; here all
        # keys in a hash partition process in one pandas call (break = key
        # change OR gap exceeded; running sum of breaks = session id).
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        pdf["_us"] = pdf[ts_col].astype("int64") // 1000
        pdf = pdf.sort_values([key, "_us"], ignore_index=True)
        brk = (pdf[key] != pdf[key].shift()) | (pdf["_us"].diff() > gap_us)
        g = pdf.groupby(brk.cumsum())
        yield pd.DataFrame({
            key: g[key].first(),
            "session_start_us": g["_us"].min(),
            "session_end_us": g["_us"].max(),
            "n_events": g.size().astype("int64"),
        }).reset_index(drop=True)

    # hash-partition on the key so each key's events land in one partition;
    # the pandas fn sorts within the partition (concat bounds memory at the
    # shuffle-partition size — tune spark.sql.shuffle.partitions at scale)
    return (
        df.select(key, ts_col)
        .repartition(F.col(key))
        .mapInPandas(fn, SESSION_SCHEMA)
    )


def sessionize_stateful_stream(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: float = 1800.0,
) -> DataFrame:
    """Streaming sessionization with explicit keyed state
    (``applyInPandasWithState``): state = the open session per key; closed
    sessions emit as soon as a later event proves the gap elapsed.  The final
    open session per key remains in state (a real stream never ends; with
    ``availableNow`` demos it simply isn't emitted).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_seconds * 1_000_000)
    state_schema = "start_us long, end_us long, n long"

    def fn(key_tuple, pdf_iter, state: GroupState):
        import pandas as pd

        if state.exists:
            start, end, n = state.get
        else:
            start = end = None
            n = 0
        chunks = [pdf[ts_col].astype("int64") // 1000 for pdf in pdf_iter]
        rows = []
        if chunks:
            for t in pd.concat(chunks).sort_values().to_numpy():
                t = int(t)
                if start is None:
                    start = end = t
                    n = 1
                elif t - end > gap_us:
                    rows.append((key_tuple[0], start, end, n))
                    start = end = t
                    n = 1
                else:
                    end = t
                    n += 1
        if start is not None:
            state.update((start, end, n))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[key, "session_start_us", "session_end_us", "n_events"])

    return stream.select(key, ts_col).groupBy(key).applyInPandasWithState(
        fn, SESSION_SCHEMA, state_schema, "append", GroupStateTimeout.NoTimeout)


LIFETIME_SCHEMA = ("user_id long, n_events long, sum_value_micros long, "
                   "first_us long, last_us long")


def _tws_available() -> bool:
    """transformWithStateInPandas talks to the JVM state server over a
    protobuf protocol; without the (optional) protobuf package the driver
    worker crashes at init, so gate on importability."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_lifetime_stats_stream(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    api: str = "auto",
) -> DataFrame:
    """Per-key lifetime aggregate with explicit keyed state: one fixed-size
    tuple (n, sum, min_us, max_us) per user, updated from Arrow batches and
    re-emitted for every user seen in the batch.

    Two interchangeable engines behind one contract (``api``):

    - ``"tws"`` — Spark 4 ``transformWithStateInPandas`` + typed
      ``ValueState``: the modern arbitrary-state substrate (composite
      value/list/map state, TTL, timers; RocksDB-backed on a cluster).
      Requires the protobuf package for the state-server protocol.
    - ``"apiws"`` — ``applyInPandasWithState`` (GroupState tuple), the
      Spark 3.x-era API; identical emission semantics.
    - ``"auto"`` — tws when protobuf is importable, else apiws.

    Money-typed sum: the value is pre-scaled to integer micros so the
    accumulation is exact int64 (no float ordering drift), making the
    emission hash-verifiable against SQL whichever engine runs.

    Scale: one shuffle on the key; state per key is O(1), store-backed, so
    key cardinality is unbounded.
    """
    import pandas as pd

    prepped = stream.select(
        F.col(key),
        F.unix_micros(F.col(ts_col)).alias("us"),
        F.round(F.col(value_col) * F.lit(1_000_000)).cast("long")
        .alias("value_micros"),
    )

    def merge_batch(prev, pdf_iter):
        """Fold Arrow batches into the (n, s, mn, mx) state tuple."""
        n, s, mn, mx = prev
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            us = pdf["us"].astype("int64")
            n += len(pdf)
            s += int(pdf["value_micros"].astype("int64").sum())
            lo, hi = int(us.min()), int(us.max())
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
        return n, s, mn, mx

    if api == "auto":
        api = "tws" if _tws_available() else "apiws"

    if api == "tws":
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor, StatefulProcessorHandle)

        class LifetimeStats(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._agg = handle.getValueState(
                    "agg", "n long, s long, mn long, mx long")

            def handleInputRows(self, key_tuple, rows, timer_values):
                prev = tuple(self._agg.get()) if self._agg.exists() else (
                    0, 0, None, None)
                n, s, mn, mx = merge_batch(prev, rows)
                if n == prev[0]:
                    return
                self._agg.update((n, s, mn, mx))
                yield pd.DataFrame({
                    "user_id": [key_tuple[0]], "n_events": [n],
                    "sum_value_micros": [s], "first_us": [mn],
                    "last_us": [mx],
                })

            def close(self) -> None:
                pass

        return prepped.groupBy(key).transformWithStateInPandas(
            LifetimeStats(), LIFETIME_SCHEMA, "append", "none")

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key_tuple, pdf_iter, state: GroupState):
        prev = tuple(state.get) if state.exists else (0, 0, None, None)
        n, s, mn, mx = merge_batch(prev, pdf_iter)
        if n == prev[0]:
            return
        state.update((n, s, mn, mx))
        yield pd.DataFrame({
            "user_id": [key_tuple[0]], "n_events": [n],
            "sum_value_micros": [s], "first_us": [mn], "last_us": [mx],
        })

    return prepped.groupBy(key).applyInPandasWithState(
        fn, LIFETIME_SCHEMA, "n long, s long, mn long, mx long",
        "append", GroupStateTimeout.NoTimeout)


SessionizeUsers = _simple_module(
    "events.sessionize", {"events": TABLE}, {"sessions": TABLE},
    lambda self, im, ctx: {"sessions": sessionize_pandas(
        im["events"].data,
        **config_kwargs(self, "key", "gap_seconds", ts_col="ts_column"),
    )},
    doc="""Custom stateful sessionization (op ``events.sessionize``); batch
    grouped-map now, same logic as the streaming stateful variant.""",
)


MODULES = [SessionizeUsers]
OPERATIONS = [Operation("events.sessionize", "events.sessionize")]
