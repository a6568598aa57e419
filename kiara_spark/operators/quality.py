"""Table maintenance + data-quality operators.

The reference's module surface stops at import/export/filter families
(`/root/reference/src/kiara/modules/included_core_modules/` — no upsert or
validation modules exist); these are the additive lakehouse/training-data
operators a 100 TB pipeline needs (BASELINE.json north star):

- ``table.merge.upsert`` — MERGE: source rows replace key-matching target
  rows, unmatched source rows are inserted.  Plan shape: ONE shuffle on the
  merge key (left_anti join) + a union; with a small source Spark broadcasts
  the anti-join side automatically, so incremental upserts into a huge
  target never shuffle the target.
- ``table.quality.audit`` — constraint battery (null/range/set/uniqueness
  checks) computed in a SINGLE conditional-aggregation pass over the table
  (one scan, map-side partial aggs, 1-row result per check — no per-check
  jobs), plus referential orphan counts via left_anti join.

Scale notes: both operators are pure built-in-function DataFrame plans
(whole-stage codegen, AQE-eligible); nothing collects to the driver.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operations import Operation
from ..values import ValueMap
from ..modules import DICT, TABLE, _simple_module, config_kwargs


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE semantics (WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN
    INSERT): every source row wins over a key-matching target row; target
    rows without a source match pass through unchanged.

    Equivalent SQL: ``source UNION ALL (target ANTI JOIN source ON keys)``.
    Columns are aligned by name; both sides must share a schema."""
    survivors = target.join(source.select(*keys).distinct(), keys, "left_anti")
    return source.unionByName(survivors)


def quality_audit(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Run boolean constraint checks in one scan.

    ``checks`` maps check-name -> violation predicate (Column).  Returns the
    long-form audit table (check_name: string, n_violations: bigint),
    computed as one conditional aggregation (single job, single pass)."""
    names = list(checks)
    aggs = [
        F.sum(F.when(pred, F.lit(1)).otherwise(F.lit(0))).cast("bigint").alias(f"_c{i}")
        for i, (_, pred) in enumerate(checks.items())
    ]
    wide = df.agg(*aggs)
    # long form via explode of literal-keyed structs over the 1-row aggregate:
    # check names come from user pipeline config and never enter a SQL/attribute
    # parser (a selectExpr stack() string or unpivot() would choke on — or let
    # through — quotes and backticks in a name).
    pairs = F.array(*[
        F.struct(F.lit(n).alias("check_name"), F.col(f"_c{i}").alias("n_violations"))
        for i, n in enumerate(names)
    ])
    return wide.select(F.explode(pairs).alias("_kv")).select(
        "_kv.check_name", "_kv.n_violations")


def quality_expectations(df: DataFrame, expectations: list[dict]) -> DataFrame:
    """Declarative expectation suite (the Deequ/Great-Expectations shape):
    each expectation names a metric over a column plus a threshold, and the
    report states (expectation, column, observed, threshold, passed).

    Supported kinds:
      - ``completeness``: non-null fraction          >= ``min_ratio``
      - ``uniqueness``:   distinct/total fraction    >= ``min_ratio``
      - ``min``:          column minimum             >= ``at_least``
      - ``max``:          column maximum             <= ``at_most``
      - ``accepted_values``: fraction of ALL rows whose value is in
                             ``values`` (a NULL counts as a miss)
                                                     >= ``min_ratio`` (def 1)
      - ``row_count``:    table row count            >= ``at_least``

    Scale design: ALL metrics for ALL expectations are computed in ONE
    aggregate scan (map-side partial aggregation; ``count(DISTINCT)`` is
    exact and goes through Spark's two-phase distinct expansion).  The
    long-form report explodes a literal-keyed struct array over the 1-row
    aggregate — no per-expectation job, no driver-side values.  ``passed``
    compares the 6-dp-rounded observed value so the verdict is
    reproducible across engines and partition orders.

    Reference parity: kiara's validation story is per-module input
    validation (reference src/kiara/models/values/value_schema.py); a
    table-level expectation suite is the lakehouse-scale analog.
    """
    total = F.count(F.lit(1)).cast("bigint")
    aggs: list[Column] = [total.alias("_total")]
    specs: list[tuple[str, str, Column, float]] = []  # (kind, col, observed_expr_name, threshold)
    for i, ex in enumerate(expectations):
        kind = ex["kind"]
        col = ex.get("column", "")
        a = f"_m{i}"
        if kind == "completeness":
            aggs.append(F.count(F.col(col)).cast("double").alias(a))
            thr = float(ex["min_ratio"])
        elif kind == "uniqueness":
            aggs.append(F.count_distinct(F.col(col)).cast("double").alias(a))
            thr = float(ex["min_ratio"])
        elif kind == "min":
            aggs.append(F.min(F.col(col)).cast("double").alias(a))
            thr = float(ex["at_least"])
        elif kind == "max":
            aggs.append(F.max(F.col(col)).cast("double").alias(a))
            thr = float(ex["at_most"])
        elif kind == "accepted_values":
            vals = list(ex["values"])
            aggs.append(F.sum(F.when(F.col(col).isin(vals), F.lit(1))
                              .otherwise(F.lit(0))).cast("double").alias(a))
            thr = float(ex.get("min_ratio", 1.0))
        elif kind == "row_count":
            aggs.append(F.count(F.lit(1)).cast("double").alias(a))
            thr = float(ex["at_least"])
        else:
            raise ValueError(f"unknown expectation kind: {kind!r}")
        specs.append((kind, col, a, thr))
    wide = df.agg(*aggs)
    entries = []
    for kind, col, a, thr in specs:
        raw = F.col(a)
        if kind in ("completeness", "uniqueness"):
            raw = F.when(F.col("_total") > 0, raw / F.col("_total"))
        elif kind == "accepted_values":
            nn = F.col("_total")  # fraction over all rows (NULL counts as miss)
            raw = F.when(nn > 0, raw / nn)
        observed = F.round(raw, 6)
        passed = (observed <= F.lit(thr)) if kind == "max" \
            else (observed >= F.lit(thr))
        entries.append(F.struct(
            F.lit(kind).alias("expectation"),
            F.lit(col).alias("column"),
            observed.alias("observed"),
            F.lit(thr).cast("double").alias("threshold"),
            F.coalesce(passed, F.lit(False)).alias("passed")))
    return (wide.select(F.explode(F.array(*entries)).alias("_e"))
            .select("_e.expectation", "_e.column", "_e.observed",
                    "_e.threshold", "_e.passed"))


def benford_report(df: DataFrame, col: str, scale: int = 100) -> DataFrame:
    """Benford's-law first-digit audit (Newcomb 1881 / Benford 1938; the
    standard forensic screen for fabricated numeric data): the leading
    significant digit of naturally-occurring amounts follows
    P(d) = log10(1 + 1/d); large deviations flag manufactured values.

    Portability note: the value is first fixed-pointed to an integer
    (``floor(abs(x) * scale)``, exact IEEE ops) and the leading digit
    taken from the INTEGER's string form — integers print identically on
    every engine, where double formatting (shortest-repr vs. %g) does
    not.  Plan: one map + one 9-bucket hash aggregate + a broadcast
    1-row total joined onto a literal digit grid (digits with zero rows
    still appear).  Returns (digit, n, observed_freq, expected_freq,
    abs_deviation), frequencies at 6 dp."""
    v = F.floor(F.abs(F.col(col)) * F.lit(scale)).cast("bigint")
    digits = (df.select(v.alias("_v"))
              .filter(F.col("_v") > 0)
              .select(F.substring(F.col("_v").cast("string"), 1, 1)
                      .cast("int").alias("digit"))
              .groupBy("digit")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    total = digits.agg(F.sum("n").cast("bigint").alias("_t"))
    grid = df.sparkSession.range(1, 10).select(F.col("id").cast("int")
                                               .alias("digit"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (grid.join(digits, "digit", "left")
            .select("digit", F.coalesce("n", F.lit(0)).alias("n"))
            .crossJoin(F.broadcast(total))
            .select(
                F.col("digit").cast("bigint").alias("digit"), "n",
                F.round(F.col("n") / F.col("_t"), 6).alias("observed_freq"),
                F.round(expected, 6).alias("expected_freq"),
                F.round(F.abs(F.col("n") / F.col("_t") - expected), 6)
                .alias("abs_deviation"))
            .orderBy("digit"))


def referential_orphans(child: DataFrame, parent: DataFrame,
                        child_key: str, parent_key: str) -> DataFrame:
    """Rows of ``child`` whose key has no match in ``parent`` (FK violation
    scan): one left_anti join shuffled on the key, count only."""
    orphans = child.select(F.col(child_key).alias("_k")).join(
        parent.select(F.col(parent_key).alias("_k")).distinct(), "_k", "left_anti")
    return orphans.agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Dataset version diff: classify every key as added (only in new),
    removed (only in old), or changed (in both, any compared column
    differs under null-safe inequality); unchanged keys are dropped.

    One full-outer join shuffled on the key; column comparisons are
    codegen expressions, so the diff costs the same as a single join at
    any width.  The standard pre-swap check before replacing a 100 TB
    table version."""
    if compare_cols is None:  # explicit [] means key-presence diff only
        compare_cols = [c for c in new.columns if c not in keys]
    o = old.select(*keys, *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
                   F.lit(1).alias("_in_old"))
    n = new.select(*keys, *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
                   F.lit(1).alias("_in_new"))
    j = o.join(n, keys, "full_outer")
    # start from lit(False) so key-only diffs (no compare columns) still
    # classify added/removed instead of raising on a None condition
    any_diff = F.lit(False)
    for c in compare_cols:
        any_diff = any_diff | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(any_diff, F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select("change_type", *keys)
    )


def validate_schema(df: DataFrame, expected: dict) -> DataFrame:
    """Schema-contract check: compare a DataFrame's schema against
    ``{column: spark_type_simple_string}``.  Returns the long-form report
    (column, expected_type, actual_type, status) with status in
    ok|type_mismatch|missing|unexpected.  Driver-side only — schema
    contracts never scan data, so this is free at any scale."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    rows = []
    for col_name, want in expected.items():
        have = actual.get(col_name)
        if have is None:
            rows.append((col_name, want, None, "missing"))
        elif have != want:
            rows.append((col_name, want, have, "type_mismatch"))
        else:
            rows.append((col_name, want, have, "ok"))
    for col_name, have in actual.items():
        if col_name not in expected:
            rows.append((col_name, None, have, "unexpected"))
    return df.sparkSession.createDataFrame(
        rows, "column string, expected_type string, actual_type string, status string")


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension build from a change/event log:
    collapse consecutive duplicate values per key, then emit validity
    intervals ``[valid_from, valid_to)`` with ``valid_to = NULL`` (and
    ``is_current = 1``) for each key's latest value.

    Plan shape: ONE shuffle on the key serves both windows (change
    detection via lag, interval close via lead on the collapsed rows —
    same partitioning, Spark reuses the sort).  Timestamps surface as
    epoch seconds so the output is engine-portable."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    prev = F.lag(value_col).over(w)
    # first-row marker must be explicit (lag over a literal): `_pv IS NULL`
    # can't distinguish "first row" from "previous value was NULL", and the
    # change test must be null-safe so NULL<->value transitions are kept and
    # consecutive NULLs collapse.
    first_row = F.lag(F.lit(1)).over(w).isNull()
    changes = (
        df.select(key_col, ts_col, tiebreak_col, value_col)
        .withColumn("_pv", prev)
        .withColumn("_first", first_row)
        .filter(F.col("_first") | ~F.col(value_col).eqNullSafe(F.col("_pv")))
    )
    w2 = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    valid_to = F.unix_timestamp(F.lead(ts_col).over(w2)).cast("bigint")
    return changes.select(
        F.col(key_col),
        F.col(value_col).alias("attr_value"),
        F.unix_timestamp(ts_col).cast("bigint").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("bigint").alias("is_current"),
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    ts_col: str,
    op_col: str = "op",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """CDC APPLY CHANGES: materialize the latest snapshot from a base table
    plus a changelog of upserts ('U'/'I') and deletes ('D').

    Per key the LATEST change (by ``ts_col``, then ``tiebreak_col``) wins:
    an upsert replaces the base row, a delete removes it; keys without
    changes pass through.  Plan: one window over the changelog (small next
    to the base), one anti-join of base against changed keys, one union —
    the base table is never shuffled beyond the anti-join's key exchange,
    which broadcasts when the changelog is small.  Equivalent to Delta's
    APPLY CHANGES INTO semantics, expressed relationally."""
    from pyspark.sql.window import Window

    order = [F.col(ts_col).desc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    upserts = latest.filter(F.col(op_col) != "D").select(*base.columns)
    survivors = base.join(latest.select(*keys).distinct(), keys, "left_anti")
    return survivors.unionByName(upserts)


def incremental_agg_maintain(
    base_agg: DataFrame,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    old_col: str = "old_val",
    new_col: str = "new_val",
) -> DataFrame:
    """Incremental materialized-view maintenance for count/sum aggregates:
    fold a CDC change feed into a stored per-key aggregate WITHOUT
    rescanning the fact table.

    Change rows carry ``op`` ('I'/'U'/'D'), the group keys, and old/new
    measure values; contributions are pure algebra (I: +1/+new, D: -1/-old,
    U: 0/+new-old — same-key updates).  The plan aggregates the (small)
    change feed once, outer-joins it with the stored aggregate, and sums —
    cost scales with |changes| + |groups|, never with the 100 TB base.
    Decimal accumulation keeps the maintained sum bit-identical to a full
    recompute.  Groups whose count reaches zero are dropped (fully deleted).
    """
    op = F.col(op_col)
    d_cnt = F.when(op == "I", 1).when(op == "D", -1).otherwise(0)
    oldv = F.col(old_col).cast("decimal(38,4)")
    newv = F.col(new_col).cast("decimal(38,4)")
    d_sum = (
        F.when(op == "I", newv)
        .when(op == "D", -oldv)
        .otherwise(newv - oldv)
    )
    delta = changes.groupBy(*keys).agg(
        F.sum(d_cnt).cast("bigint").alias("_dc"),
        F.sum(d_sum).alias("_ds"),
    )
    zero = F.lit(0).cast("decimal(38,4)")
    merged = (
        base_agg.join(delta, keys, "full_outer")
        .select(
            *keys,
            (F.coalesce(F.col("cnt"), F.lit(0))
             + F.coalesce(F.col("_dc"), F.lit(0))).alias("cnt"),
            (F.coalesce(F.col("total").cast("decimal(38,4)"), zero)
             + F.coalesce(F.col("_ds"), zero)).alias("total"),
        )
        .filter(F.col("cnt") > 0)
    )
    return merged


def association_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Market-basket association mining: co-occurrence pairs with support,
    confidence, and lift — the classic "bought together" analysis
    (Apriori's pair level, the part that matters in practice).

    Plan shape: distinct (basket, item) pairs, a self-join keyed ON THE
    BASKET (each basket only joins to itself, so the blowup is bounded by
    basket size squared, never |items|²), one pair-count aggregate, then
    item counts broadcast back for the metrics.  ``min_support`` prunes
    AFTER pair counting — at 100 TB, huge baskets are the hazard, so cap or
    pre-filter basket size upstream.  Pairs are emitted once (item_a <
    item_b); confidence is directional P(b|a); lift is symmetric.
    Doubles round to 6 dp for engine portability.  (r12: a checkpoint of
    the distinct (basket, item) set was prototyped and measured 2x
    SLOWER at sf0.1 — within one plan ReuseExchange already dedupes the
    identical distinct subtrees, so the eager materialization only
    added cost.)"""
    bi = df.select(F.col(basket_col).alias("_b"),
                   F.col(item_col).alias("_i")).distinct()
    n_baskets = bi.select("_b").distinct().count()
    item_counts = bi.groupBy(F.col("_i").alias("item")).agg(
        F.count(F.lit(1)).cast("bigint").alias("item_n"))
    a = bi.select(F.col("_b"), F.col("_i").alias("item_a"))
    b = bi.select(F.col("_b"), F.col("_i").alias("item_b"))
    pairs = (
        a.join(b, "_b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    ca = item_counts.select(F.col("item").alias("item_a"),
                            F.col("item_n").alias("_na"))
    cb = item_counts.select(F.col("item").alias("item_b"),
                            F.col("item_n").alias("_nb"))
    out = pairs.join(F.broadcast(ca), "item_a").join(F.broadcast(cb), "item_b")
    conf = F.col("support") / F.col("_na")
    lift = (F.col("support") * F.lit(float(n_baskets))
            / (F.col("_na") * F.col("_nb")))
    return out.select(
        "item_a", "item_b", "support",
        F.round(conf, 6).alias("confidence_a_to_b"),
        F.round(lift, 6).alias("lift"))


def association_triples(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Frequent-triple mining — Apriori level 3 (Agrawal & Srikant 1994):
    itemsets {a,b,c} with support >= ``min_support``, plus the
    confidence of the ab -> c rule and the three-way lift.

    The Apriori anti-monotone prune is applied IN THE PLAN: baskets first
    join their own (a < b) pairs against the frequent-pair set, and the
    third item (c > b) must itself form frequent pairs with BOTH a and b
    before the triple is ever counted — so the enumeration blowup is
    bounded by frequent-pairs-per-basket x basket size, not basket
    size³.  (The prune provably drops nothing: support is anti-monotone,
    every frequent triple's sub-pairs are frequent.)  All joins are keyed
    on the basket or on the (small) frequent-pair set; one final triple
    aggregate.  Doubles round to 6 dp.  (r12: checkpointing the distinct
    (basket, item) set and/or the frequent-pair set was prototyped and
    measured SLOWER at sf0.1 — 4.0s -> 5.7s for the pair checkpoint
    alone: the eager jobs recompute subtrees that a single plan dedupes
    via ReuseExchange; guide §1.1's gotcha clause.)"""
    bi = df.select(F.col(basket_col).alias("_b"),
                   F.col(item_col).alias("_i")).distinct()
    n_baskets = bi.select("_b").distinct().count()
    item_counts = bi.groupBy(F.col("_i").alias("item")).agg(
        F.count(F.lit(1)).cast("bigint").alias("item_n"))
    a = bi.select("_b", F.col("_i").alias("item_a"))
    b = bi.select("_b", F.col("_i").alias("item_b"))
    c = bi.select("_b", F.col("_i").alias("item_c"))
    pairs = (a.join(b, "_b")
             .filter(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("pair_support"))
             .filter(F.col("pair_support") >= min_support))
    fp = pairs.select("item_a", "item_b")
    basket_pairs = (a.join(b, "_b")
                    .filter(F.col("item_a") < F.col("item_b"))
                    .join(fp, ["item_a", "item_b"]))
    fp_ac = fp.select(F.col("item_a"), F.col("item_b").alias("item_c"))
    fp_bc = fp.select(F.col("item_a").alias("item_b"),
                      F.col("item_b").alias("item_c"))
    triples = (basket_pairs.join(c, "_b")
               .filter(F.col("item_c") > F.col("item_b"))
               .join(fp_ac, ["item_a", "item_c"])
               .join(fp_bc, ["item_b", "item_c"])
               .groupBy("item_a", "item_b", "item_c")
               .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
               .filter(F.col("support") >= min_support))
    out = (triples
           .join(pairs, ["item_a", "item_b"])
           .join(F.broadcast(item_counts.select(
               F.col("item").alias("item_a"),
               F.col("item_n").alias("_na"))), "item_a")
           .join(F.broadcast(item_counts.select(
               F.col("item").alias("item_b"),
               F.col("item_n").alias("_nb"))), "item_b")
           .join(F.broadcast(item_counts.select(
               F.col("item").alias("item_c"),
               F.col("item_n").alias("_nc"))), "item_c"))
    nb = F.lit(float(n_baskets))
    return out.select(
        "item_a", "item_b", "item_c", "support",
        F.round(F.col("support") / F.col("pair_support"), 6)
        .alias("confidence_ab_to_c"),
        F.round(F.col("support") * nb * nb
                / (F.col("_na").cast("double") * F.col("_nb")
                   * F.col("_nc")), 6).alias("lift"))


def winsorize(df: DataFrame, cols: list[str], lower: float = 0.01,
              upper: float = 0.99) -> DataFrame:
    """Percentile clipping (winsorization) — the standard outlier cap before
    feature normalization.  ONE aggregate computes every column's bounds
    (exact linear-interpolation percentile, same definition as SQL
    QUANTILE_CONT so the oracle matches bit-for-bit after rounding); the
    1-row bounds broadcast onto the scan, clipping is codegen least/greatest
    — two jobs total regardless of column count."""
    aggs = []
    for c in cols:
        aggs += [F.expr(f"percentile({c}, {lower})").alias(f"_lo_{c}"),
                 F.expr(f"percentile({c}, {upper})").alias(f"_hi_{c}")]
    bounds = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(bounds))
    for c in cols:
        out = out.withColumn(
            f"{c}_winsorized",
            F.least(F.greatest(F.col(c).cast("double"), F.col(f"_lo_{c}")),
                    F.col(f"_hi_{c}")))
    return out.drop(*[f"_lo_{c}" for c in cols], *[f"_hi_{c}" for c in cols])


def skew_report(df: DataFrame, cols: list[str], top_n: int = 5) -> DataFrame:
    """Heavy-key diagnostic: for each column, its ``top_n`` most frequent
    values and their share of the table — what you run BEFORE a big join to
    decide whether a key needs salting or AQE skew handling.

    All columns profile in ONE shuffle: rows explode to (column, value)
    pairs, one count aggregate, window top-n per column — instead of one
    groupBy job per column.  Values surface as strings so heterogeneous
    column types share the report schema."""
    from pyspark.sql.window import Window

    pairs = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(c).cast("string").alias("value"))
        for c in cols
    ])
    ex = df.select(F.explode(pairs).alias("_p")).select("_p.column", "_p.value")
    n = df.count()
    counts = ex.groupBy("column", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    w = Window.partitionBy("column").orderBy(
        F.col("n_rows").desc(), F.col("value"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_n)
        .select("column", "value", "n_rows",
                F.round(F.col("n_rows") / F.lit(float(n)), 6).alias("share"),
                F.col("rnk").cast("bigint").alias("rnk"))
    )


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations of ``cols`` in ONE pass.

    All component sums (n, per-column sum/sum-of-squares, every pairwise
    product sum) compute in a single aggregate over one scan — k columns
    need k(k+1)/2 + k + 1 accumulators, NOT k² scans (df.stat.corr runs one
    job per pair).  Sums accumulate as decimal(38,10) (exact,
    order-insensitive) so the derived doubles are bit-identical across
    engines and partitionings.  Output: long-form (col_a, col_b, corr) for
    the upper triangle, rounded to 6 dp."""
    dec = lambda c: F.sum(c.cast("decimal(38,10)")).cast("double")  # noqa: E731
    aggs = [F.count(F.lit(1)).cast("double").alias("_n")]
    for c in cols:
        aggs.append(dec(F.col(c)).alias(f"_s_{c}"))
        aggs.append(dec(F.col(c) * F.col(c)).alias(f"_ss_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(dec(F.col(a) * F.col(b)).alias(f"_sp_{a}_{b}"))
    wide = df.agg(*aggs)

    n = F.col("_n")
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            cov = F.col(f"_sp_{a}_{b}") - F.col(f"_s_{a}") * F.col(f"_s_{b}") / n
            va = F.col(f"_ss_{a}") - F.col(f"_s_{a}") * F.col(f"_s_{a}") / n
            vb = F.col(f"_ss_{b}") - F.col(f"_s_{b}") * F.col(f"_s_{b}") / n
            pairs.append(F.struct(
                F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                F.round(cov / F.sqrt(va * vb), 6).alias("corr")))
    return wide.select(F.explode(F.array(*pairs)).alias("_p")).select(
        "_p.col_a", "_p.col_b", "_p.corr")


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-form column profile in ONE scan: per column its null count,
    exact distinct count, and min/max (as strings so heterogeneous types
    share the report schema) — the distributed form of the
    ``value.extract_metadata`` profile, emitted as a TABLE so it can be
    stored, diffed between snapshots, and oracle-verified.

    All per-column aggregates ride in a single aggregate (one scan,
    map-side partials); the wide 1-row result explodes to long form via
    literal-keyed structs (never string-SQL, same rationale as
    quality_audit).  count_distinct per column does grow the aggregate
    state with column cardinality — swap in approx_count_distinct for
    ultra-high-cardinality profiling at 100 TB (documented trade)."""
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")]
    for i, c in enumerate(cols):
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint").alias(f"_nulls_{i}"),
            F.count_distinct(F.col(c)).cast("bigint").alias(f"_dist_{i}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{i}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{i}"),
        ]
    wide = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").alias("n_rows"),
            F.col(f"_nulls_{i}").alias("n_nulls"),
            F.col(f"_dist_{i}").alias("n_distinct"),
            F.col(f"_min_{i}").alias("min_value"),
            F.col(f"_max_{i}").alias("max_value"),
        )
        for i, c in enumerate(cols)
    ])
    return wide.select(F.explode(rows).alias("_r")).select(
        "_r.column", "_r.n_rows", "_r.n_nulls", "_r.n_distinct",
        "_r.min_value", "_r.max_value")


def kth_smallest_scalable(
    df: DataFrame,
    col: str,
    k: int,
    n_bins: int = 512,
    final_limit: int = 100_000,
    max_rounds: int = 12,
    pre_stats: tuple | None = None,
):
    """Exact k-th smallest value (1-based) by distributed selection —
    the scale path for exact order statistics.  Spark's ``percentile``
    aggregate buffers EVERY value of the group in executor memory, which a
    100 TB column cannot do; histogram refinement needs O(log) cheap
    aggregate rounds and constant state instead:

    each round computes one ``n_bins``-bucket count histogram over the
    current [lo, hi] value range (one hash aggregate with a tiny result),
    walks the cumulative counts to the bucket containing rank k, and
    narrows the range to that bucket (the filter pushes down to the scan,
    so later rounds read a shrinking slice).  When the surviving slice is
    ≤ ``final_limit`` rows it is sorted exactly.  Returns the exact value
    as a Python float (driver scalar — selection is an action, not a
    transform).

    ``pre_stats``: optional (n, lo, hi) when the caller already holds the
    column's count/min/max (e.g. it needed n to derive k) — skips the one
    stats aggregate this function would otherwise run (r12: conformal ran
    count() and then this stats pass back to back over the same frame)."""
    import math

    c = F.col(col).cast("double")
    if pre_stats is not None:
        n_rows, s_lo, s_hi = pre_stats
    else:
        stats = df.agg(F.count(c).alias("n"), F.min(c).alias("lo"),
                       F.max(c).alias("hi")).collect()[0]
        n_rows, s_lo, s_hi = stats.n, stats.lo, stats.hi
    if not (1 <= k <= n_rows):
        raise ValueError(f"k={k} outside 1..{n_rows}")
    lo, hi, want = float(s_lo), float(s_hi), k
    cnt = int(n_rows)
    cur = df.select(c.alias("_v"))
    for _ in range(max_rounds):
        if lo == hi or cnt <= final_limit:
            break
        width = (hi - lo) / n_bins
        if width <= 0 or not math.isfinite(width):
            break
        # the narrowing filter reuses the SAME bucket expression the
        # histogram counted with (clamped to [0, n_bins-1]), so edge values
        # can never be counted in one bucket and filtered into another —
        # a [lo, hi) range filter could disagree with floor() by 1 ulp
        bucket = F.greatest(F.lit(0), F.least(
            F.lit(n_bins - 1),
            F.floor((F.col("_v") - F.lit(lo)) / F.lit(width)).cast("int")))
        hist = {r["_b"]: r["count"] for r in
                cur.groupBy(bucket.alias("_b")).count().collect()}
        running = 0
        for b in range(n_bins):
            nb = hist.get(b, 0)
            if running + nb >= want:
                want -= running
                cnt = nb
                cur = cur.filter(bucket == b)
                lo, hi = lo + b * width, lo + (b + 1) * width
                break
            running += nb
        else:
            raise AssertionError("histogram walk overran rank")
    if cnt > final_limit:
        # The range stopped narrowing (max_rounds hit, or ties straddle a
        # single bin) while the slice is still > final_limit rows — the
        # duplicate-dominated case.  Ties mean FEW DISTINCT values, so
        # aggregate to per-value counts (bounded executor state) and walk
        # the cumulative counts exactly instead of collecting up-to-n raw
        # rows to the driver.
        if lo == hi:
            return lo
        # Walk the ordered distinct values in PAGES of final_limit (keyed
        # by last value seen, not OFFSET — a value filter pushes down to
        # the scan, an offset re-sorts the whole slice every page), so a
        # non-converged slice with many distinct values still returns the
        # exact answer with bounded driver memory per page.
        counts = cur.groupBy("_v").count()
        running = 0
        page_floor = None
        while True:
            page_df = counts if page_floor is None else counts.filter(
                F.col("_v") > F.lit(page_floor))
            vals = page_df.orderBy("_v").limit(final_limit).collect()
            if not vals:
                raise AssertionError("kth_smallest_scalable: rank overran "
                                     "distinct-value walk")
            for r in vals:
                running += r["count"]
                if running >= want:
                    return float(r["_v"])
            page_floor = vals[-1]["_v"]
    rows = cur.orderBy("_v").limit(want).collect()
    return float(rows[want - 1][0])


def regression_by_group(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression (OLS closed form): slope,
    intercept, and r² for y ~ x within every group — the grouped trend-fit
    that replaces a per-group model loop with ONE aggregate pass.

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n
        r² = (n·Σxy − Σx·Σy)² / ((n·Σx²−(Σx)²) · (n·Σy²−(Σy)²))

    All five component sums accumulate as DECIMAL(38,6) (exact, order-
    insensitive — same rationale as ``corr_matrix``), so the derived
    doubles are bit-identical across engines and partitionings; groups with
    zero x-variance yield NULL slope/r².  One hash aggregate keyed on the
    group — map-side partials, no window, no per-group jobs — so the fit
    costs the same as a COUNT(*) GROUP BY at any scale."""
    dec = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        dec(x).alias("_sx"), dec(y).alias("_sy"),
        dec(x * x).alias("_sxx"), dec(y * y).alias("_syy"),
        dec(x * y).alias("_sxy"),
    )
    n = F.col("_n")
    cov_n = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    var_x = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    var_y = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = F.when(var_x > 0, cov_n / var_x)
    return agg.select(
        *group_cols,
        F.col("_n").cast("bigint").alias("n_rows"),
        F.round(slope, 6).alias("slope"),
        F.round(F.when(var_x > 0,
                       (F.col("_sy") - cov_n / var_x * F.col("_sx")) / n),
                6).alias("intercept"),
        F.round(F.when((var_x > 0) & (var_y > 0),
                       cov_n * cov_n / (var_x * var_y)), 6).alias("r2"),
    )


def impute_nulls(df: DataFrame, cols: list[str],
                 strategy: str = "mean") -> DataFrame:
    """NULL imputation with the column's mean or median — the standard
    feature-prep fill.  ONE aggregate computes every fill value (means as
    decimal-exact sum/count so the fill is engine- and partition-
    deterministic; medians as exact interpolated percentile), broadcasts
    the 1-row bounds, and the fill is a codegen coalesce."""
    if strategy not in ("mean", "median"):
        raise ValueError(f"unknown imputation strategy: {strategy!r}")
    aggs = []
    for c in cols:
        if strategy == "mean":
            fill = (F.sum(F.col(c).cast("decimal(38,10)"))
                    / F.count(F.col(c))).cast("double")
        else:
            fill = F.expr(f"percentile({c}, 0.5)")
        aggs.append(fill.alias(f"_fill_{c}"))
    fills = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(fills))
    for c in cols:
        out = out.withColumn(
            c, F.coalesce(F.col(c).cast("double"), F.col(f"_fill_{c}")))
    return out.drop(*[f"_fill_{c}" for c in cols])


def quantile_bins(df: DataFrame, col: str, n_bins: int = 10,
                  out_col: str | None = None) -> DataFrame:
    """Equal-frequency binning: assign each row the index of its quantile
    bucket (0..n_bins-1) — the scalable stand-in for global
    ``percent_rank`` feature normalization, which would need a single
    global sort window.  Here: ONE percentile aggregate computes the inner
    bin bounds, broadcasts (n_bins-1 doubles), and the bin index is a
    codegen sum of boundary comparisons — two jobs at any scale."""
    out_col = out_col or f"{col}_bin"
    ps = [i / n_bins for i in range(1, n_bins)]
    bounds = df.agg(F.expr(
        f"percentile({col}, array({', '.join(map(repr, ps))}))").alias("_bnds"))
    joined = df.crossJoin(F.broadcast(bounds))
    bin_idx = F.aggregate(
        F.col("_bnds"), F.lit(0),
        lambda acc, b: acc + F.when(F.col(col) > b, 1).otherwise(0))
    # NULL input -> NULL bin (a silent bin-0 assignment would corrupt
    # downstream class balance)
    return joined.withColumn(
        out_col,
        F.when(F.col(col).isNull(), F.lit(None)).otherwise(bin_idx).cast("int"),
    ).drop("_bnds")


def lift_table(
    df: DataFrame,
    score_col: str,
    outcome_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Lift / gains table — the standard model-evaluation readout: rows are
    bucketed into equal-frequency score bins (via :func:`quantile_bins` —
    one broadcast percentile-bounds aggregate, NO global sort window), and
    each bucket reports its positive rate, lift over the base rate, and
    the cumulative gain when targeting the top buckets first.

    ``bucket`` 1 is the highest-score bin.  All ratios are fixed-order
    IEEE double arithmetic rounded to 6 dp.  The heavy table is touched
    twice (bounds + one n_bins-row aggregate); every window runs over
    <= n_bins rows.  ``outcome_col`` must be 0/1-valued (cast yourself
    for booleans)."""
    from pyspark.sql.window import Window

    binned = quantile_bins(df, score_col, n_bins, out_col="_bin")
    per = (binned.filter(F.col("_bin").isNotNull())
           .groupBy("_bin")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col(outcome_col).cast("int")).cast("bigint")
                .alias("n_pos")))
    tot = per.agg(F.sum("n").cast("bigint").alias("_tn"),
                  F.sum("n_pos").cast("bigint").alias("_tp"))
    w = (Window.orderBy(F.col("_bin").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = per.select(
        "_bin", "n", "n_pos",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(w).cast("bigint").alias("cum_pos"))
    base = F.col("_tp").cast("double") / F.col("_tn")
    return (c.crossJoin(F.broadcast(tot))
            .select(
                (F.lit(n_bins) - F.col("_bin")).cast("bigint").alias("bucket"),
                "n", "n_pos",
                F.round(F.col("n_pos").cast("double") / F.col("n"), 6)
                .alias("pos_rate"),
                F.when(F.col("_tp") > 0, F.round(
                    F.col("n_pos").cast("double") / F.col("n") / base, 6))
                .alias("lift"),
                "cum_n", "cum_pos",
                F.when(F.col("_tp") > 0, F.round(
                    F.col("cum_pos").cast("double") / F.col("_tp"), 6))
                .alias("cum_gain"),
                F.when(F.col("_tp") > 0, F.round(
                    F.col("cum_pos").cast("double") / F.col("cum_n") / base, 6))
                .alias("cum_lift"))
            .orderBy("bucket"))


def uplift_qini(
    df: DataFrame,
    score_col: str,
    treat_col: str,
    outcome_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Qini / uplift curve (Radcliffe 2007; the uplift-modeling companion
    of :func:`lift_table`): rank units by an uplift score, and at each
    depth report the INCREMENTAL conversions the treatment earned over
    control,

        Qini(k) = Ct_k − Cc_k · (Nt_k / Nc_k)

    (cumulative treated conversions minus control conversions scaled to
    the treated exposure), plus each bin's raw uplift
    (rate_t − rate_c) and the gain over the random-targeting diagonal
    (``qini_gain`` — summing trapezoids of it gives the Qini
    coefficient/AUUC).  ``bucket`` 1 is the highest-score bin.

    Plan: equal-frequency bins via :func:`quantile_bins` (broadcast
    percentile bounds — no global sort), ONE n_bins-row conditional hash
    aggregate of the four cell counts, cumulative windows over the
    ≤n_bins grid, broadcast 1-row totals.  Determinism: every statistic
    is bigint-count arithmetic in fixed-order IEEE doubles, round-6 at
    the boundary; empty-arm cells NULL out (no silent zeros).
    ``treat_col``/``outcome_col`` must be 0/1-valued."""
    from pyspark.sql.window import Window

    t = F.col(treat_col).cast("int")
    y = F.col(outcome_col).cast("int")
    binned = quantile_bins(df, score_col, n_bins, out_col="_bin")
    per = (binned.filter(F.col("_bin").isNotNull())
           .groupBy("_bin")
           .agg(F.sum(t).cast("bigint").alias("_nt"),
                F.sum(1 - t).cast("bigint").alias("_nc"),
                F.sum(t * y).cast("bigint").alias("_ct"),
                F.sum((1 - t) * y).cast("bigint").alias("_cc")))
    w = (Window.orderBy(F.col("_bin").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = per.select(
        "_bin", "_nt", "_nc", "_ct", "_cc",
        F.sum("_nt").over(w).cast("bigint").alias("cum_treat"),
        F.sum("_nc").over(w).cast("bigint").alias("cum_control"),
        F.sum("_ct").over(w).cast("bigint").alias("cum_conv_treat"),
        F.sum("_cc").over(w).cast("bigint").alias("cum_conv_control"))
    tot = per.agg(F.sum("_nt").cast("bigint").alias("_tnt"),
                  F.sum("_nc").cast("bigint").alias("_tnc"),
                  F.sum("_ct").cast("bigint").alias("_tct"),
                  F.sum("_cc").cast("bigint").alias("_tcc"))
    qini = F.when(
        F.col("cum_control") > 0,
        F.col("cum_conv_treat")
        - F.col("cum_conv_control")
        * (F.col("cum_treat").cast("double") / F.col("cum_control")))
    q_total = F.when(
        F.col("_tnc") > 0,
        F.col("_tct") - F.col("_tcc")
        * (F.col("_tnt").cast("double") / F.col("_tnc")))
    rand_q = q_total * (F.col("cum_treat") + F.col("cum_control")
                        ).cast("double") / (F.col("_tnt") + F.col("_tnc"))
    uplift = F.when(
        (F.col("_nt") > 0) & (F.col("_nc") > 0),
        F.col("_ct").cast("double") / F.col("_nt")
        - F.col("_cc").cast("double") / F.col("_nc"))
    return (c.crossJoin(F.broadcast(tot))
            .select(
                (F.lit(n_bins) - F.col("_bin")).cast("bigint")
                .alias("bucket"),
                F.col("_nt").alias("n_treat"),
                F.col("_nc").alias("n_control"),
                F.round(uplift, 6).alias("uplift"),
                "cum_treat", "cum_control",
                "cum_conv_treat", "cum_conv_control",
                F.round(qini, 6).alias("cum_qini"),
                F.round(qini - rand_q, 6).alias("qini_gain"))
            .orderBy("bucket"))


def rake_weights(
    df: DataFrame,
    row_col: str,
    col_col: str,
    n_iter: int = 3,
    row_targets: dict | None = None,
    col_targets: dict | None = None,
) -> DataFrame:
    """Raking / iterative proportional fitting (Deming & Stephan 1940) —
    the survey-calibration standard: scale cell weights so the weighted
    row and column margins of a two-way contingency grid hit TARGET
    margins, by alternating proportional adjustments.  ``row_targets`` /
    ``col_targets`` map category → target mass; omitted targets default
    to UNIFORM margins (total/R, total/C) — the "equalize
    representation" configuration a training-data curator uses to
    rebalance a (source × language) grid.

    Per iteration (row step then column step):
        w ← w · t_r / Σ_c n·w      then      w ← w · t_c / Σ_r n·w

    ``n_iter`` is FIXED (default 3), not convergence-tested — a bounded,
    engine-reproducible plan; IPF converges geometrically so 3 rounds
    land within ~1e-6 on well-conditioned grids, and the caller reads
    the residual from the fitted margins.

    Scale design: the raw table is touched ONCE (the cell-count hash
    aggregate — the only distributed work at any scale); the scaling
    loop runs on the COLLECTED O(R·C) grid (bounded by the contingency
    contract — two categorical dims, like the kth_smallest final stage),
    with margin sums as DETERMINISTIC key-ordered left folds — byte-
    identical to the SQL twin's list_sort + list_reduce, because a
    distributed SUM of doubles would be accumulation-order ambiguous.
    Zero-margin cells keep their weight.  Returns one row per cell:
    (row value, col value, n, weight, fitted = n·weight), round-6."""
    r, c = F.col(row_col).cast("string"), F.col(col_col).cast("string")
    cells = {(x["_r"], x["_c"]): [int(x["_n"]), 1.0]
             for x in (df.groupBy(r.alias("_r"), c.alias("_c"))
                       .agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
                       .collect())}
    rows_ = sorted({k[0] for k in cells})
    cols_ = sorted({k[1] for k in cells})
    total = float(sum(n for n, _ in cells.values()))
    t_r = row_targets or {x: total / float(len(rows_)) for x in rows_}
    t_c = col_targets or {x: total / float(len(cols_)) for x in cols_}
    for _ in range(n_iter):
        for dim, cats, targets in ((0, rows_, t_r), (1, cols_, t_c)):
            for cat in cats:
                m = 0.0
                for k in sorted(cells, key=lambda k: k[1 - dim]):
                    if k[dim] == cat:
                        m = m + cells[k][0] * cells[k][1]
                if m > 0 and cat in targets:
                    scale = float(targets[cat]) / m
                    for k in cells:
                        if k[dim] == cat:
                            cells[k][1] = cells[k][1] * scale
    out = [(k[0], k[1], cells[k][0], cells[k][1],
            cells[k][0] * cells[k][1]) for k in sorted(cells)]
    res = df.sparkSession.createDataFrame(
        out, f"{row_col} string, {col_col} string, n bigint, "
             "_w double, _f double")
    return res.select(
        row_col, col_col, "n",
        F.round(F.col("_w"), 6).alias("weight"),
        F.round(F.col("_f"), 6).alias("fitted"))


def calibration_bins(
    df: DataFrame,
    score_col: str,
    outcome_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram (calibration) bins — the model-evaluation readout
    next to :func:`lift_table` and :func:`auc_roc`: scores are min-max
    normalized to [0,1] (bounds from ONE broadcast aggregate row, no global
    sort), bucketed into ``n_bins`` equal-WIDTH bins (the reliability-diagram
    convention; equal-frequency is what lift_table does), and each bin
    reports mean predicted probability vs observed positive rate, their
    absolute gap, and the bin's ECE contribution (n_bin/N x gap — summing
    the column gives expected calibration error).

    Determinism: normalization and ratios are fixed-shape IEEE double ops;
    the per-bin score sum accumulates as exact decimal and rounds at 4 dp
    while still decimal (the dsum rule), so bins hash-match the SQL twin.
    Scale: one bounds aggregate + one n_bins-row hash aggregate — two scans,
    both map-side combined; the 1-row totals join broadcasts."""
    x = F.col(score_col).cast("double")
    src = df.filter(x.isNotNull())
    bounds = src.agg(F.min(x).alias("_mn"), F.max(x).alias("_mx"))
    t = src.crossJoin(F.broadcast(bounds))
    p = F.when(F.col("_mx") > F.col("_mn"),
               (x - F.col("_mn")) / (F.col("_mx") - F.col("_mn"))
               ).otherwise(F.lit(0.0))
    b = F.least(F.floor(p * n_bins), F.lit(n_bins - 1)).cast("bigint")
    per = (t.withColumn("_p", p).withColumn("bin", b)
           .groupBy("bin")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col(outcome_col).cast("int")).cast("bigint")
                .alias("n_pos"),
                F.round(F.sum(F.col("_p").cast("decimal(38,10)")), 4)
                .cast("double").alias("_sp")))
    tot = per.agg(F.sum("n").cast("bigint").alias("_tn"))
    mean_pred = F.col("_sp") / F.col("n")
    pos_rate = F.col("n_pos").cast("double") / F.col("n")
    gap = F.abs(mean_pred - pos_rate)
    return (per.crossJoin(F.broadcast(tot))
            .select("bin", "n", "n_pos",
                    F.round(mean_pred, 6).alias("mean_pred"),
                    F.round(pos_rate, 6).alias("pos_rate"),
                    F.round(gap, 6).alias("gap"),
                    F.round(F.col("n").cast("double") / F.col("_tn") * gap, 6)
                    .alias("ece_contrib"))
            .orderBy("bin"))


def weighted_percentile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    percentiles: list[float],
) -> DataFrame:
    """Exact weighted percentiles (lower-edge / step-function definition):
    for each requested p, the smallest value whose cumulative weight
    reaches p · W — the estimator every weighted-quantile monitoring job
    wants (e.g. price percentiles weighted by quantity, latency
    percentiles weighted by request count).

    Scale design: the table collapses to ONE row per distinct value (hash
    aggregate summing weights — exact decimal accumulation), cumulative
    weights come from a window over that distinct-value grid, and each
    percentile is answered by a min-aggregate over the qualifying rows —
    no global row sort of the raw table, no per-row rank.  The boundary
    compare is cross-multiplied into scale-6 decimals (cw·10⁶ >= P·W
    with P = round(p·10⁶)) — NO decimal×decimal product whose scale an
    engine could round (Spark's allowPrecisionLoss rule rounds a
    (38,6)×(38,6) product back to scale 6; the cross-multiplied form
    never grows the scale), so boundary rows can't flip on engine
    arithmetic.  Percentiles are quantized to 1e-6.  Returns (p, value).
    """
    per_v = (df.groupBy(F.col(value_col).alias("_v"))
             .agg(F.sum(F.col(weight_col).cast("decimal(38,6)"))
                  .alias("_w")))
    # r8: range-partitioned prefix (was one unpartitioned window over the
    # distinct grid — the skyline-class serial stretch)
    cum = (_prefix_sums(per_v, "_v",
                        [("_w", "_cw", "decimal(38,6)")], inclusive=True)
           .select("_v", "_cw"))
    # r12: total weight = the last grid value's inclusive cumulative
    # (max_by, not max — weights need not be positive), read off the
    # checkpointed grid instead of re-aggregating per_v, which re-ran
    # the full table scan (the weighted_percentile fix, same family).
    tot = cum.agg(F.max_by("_cw", F.col("_v")).cast("decimal(38,6)")
                  .alias("_tw"))
    grid = df.sparkSession.createDataFrame(
        [(float(p), int(round(p * 1_000_000))) for p in percentiles],
        "p double, p_ppm long")
    joined = (cum.crossJoin(F.broadcast(tot))
              .join(F.broadcast(grid),
                    F.col("_cw") * F.lit(1_000_000)
                    >= F.col("p_ppm") * F.col("_tw")))
    return (joined.groupBy("p")
            .agg(F.min("_v").alias("value"))
            .orderBy("p"))


def gini_coefficient(df: DataFrame, value_col: str) -> DataFrame:
    """Exact Gini coefficient of a non-negative value column — the
    standard concentration/inequality readout (revenue concentration,
    token-budget skew, datacenter hot-keys):

        G = Σᵢⱼ |xᵢ − xⱼ| / (2 n Σx)

    Scale design: the table collapses to ONE row per distinct value
    (counts + decimal-exact per-value sums), and the pairwise
    |difference| total folds into a single pass over the sorted distinct
    grid via exclusive prefix counts/sums:
    Σ|diffs| = 2·Σ_v c_v·(v·N_<v − S_<v).  Everything stays exact
    decimal until the final fixed-order double ratio (6 dp).  The grid
    prefixes run as the range-partitioned :func:`_prefix_sums` (r8 —
    no serial window over the distinct grid).  Returns
    one row (n, total, gini)."""
    per_v = (df.groupBy(F.col(value_col).cast("decimal(38,6)").alias("_v"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
             .withColumn("_vc", (F.col("_v") * F.col("_c"))
                         .cast("decimal(38,6)")))
    g = (_prefix_sums(per_v, "_v",
                      [("_c", "_nlt0"), ("_vc", "_slt", "decimal(38,6)")])
         .select("_v", "_c", F.col("_nlt0").cast("bigint").alias("_nlt"),
                 "_slt"))
    t = g.agg(
        F.sum("_c").cast("bigint").alias("_n"),
        F.sum(F.col("_v") * F.col("_c")).cast("decimal(38,6)").alias("_s"),
        F.sum(F.col("_c").cast("decimal(38,0)")
              * (F.col("_v") * F.col("_nlt") - F.col("_slt")))
        .alias("_absdiff_half"))
    n, s = F.col("_n").cast("double"), F.col("_s").cast("double")
    total_absdiff = F.lit(2.0) * F.col("_absdiff_half").cast("double")
    return t.select(
        F.col("_n").alias("n"),
        F.round(s, 6).alias("total"),
        F.when((F.col("_n") > 0) & (s > 0),
               F.round(total_absdiff / (F.lit(2.0) * n * s), 6))
        .alias("gini"))


def hhi_concentration(
    df: DataFrame,
    group_cols: list[str],
    entity_col: str,
    value_col: str,
) -> DataFrame:
    """Herfindahl-Hirschman concentration index per group: the sum of
    squared entity shares of the group total (the antitrust/market-
    concentration statistic; 1/HHI is the "effective number" of
    entities).  Two hash aggregates — (group, entity) value sums, then
    the per-group Σshare² assembled from decimal-exact sums with the
    final ratio in fixed-order doubles (6 dp).  Returns
    (group..., n_entities, hhi, effective_n)."""
    per_e = (df.groupBy(*group_cols, F.col(entity_col).alias("_e"))
             .agg(F.sum(F.col(value_col).cast("decimal(38,6)"))
                  .alias("_r")))
    # squares go through DECIMAL(18,6) factors: (18,6)x(18,6) -> (37,12)
    # stays under Spark's 38-digit cap, so the product is EXACT (a
    # (38,6)x(38,6) square would trip allowPrecisionLoss and round back
    # to scale 6 — the weighted_percentile lesson)
    r18 = F.col("_r").cast("decimal(18,6)")
    t = (per_e.groupBy(*group_cols)
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_entities"),
              F.sum("_r").cast("decimal(38,6)").alias("_tot"),
              F.sum((r18 * r18).cast("decimal(38,12)")).alias("_sq")))
    tot = F.col("_tot").cast("double")
    hhi = F.col("_sq").cast("double") / (tot * tot)
    return t.select(
        *group_cols, "n_entities",
        F.when(tot > 0, F.round(hhi, 6)).alias("hhi"),
        F.when(tot > 0, F.round(F.lit(1.0) / hhi, 6)).alias("effective_n"))


def shannon_entropy(
    df: DataFrame,
    cat_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Shannon entropy (nats) of a categorical column, optionally per
    group — the diversity/profiling statistic (label balance, source
    mixture health):  H = ln N − (Σ c·ln c)/N.

    One hash aggregate on (group, category), then a tiny per-group
    rollup; the c·ln(c) terms are rounded to 9 dp and summed as
    DECIMAL(38,12) (the BM25 recipe) so H is partition-order-invariant
    and engine-exact at 6 dp.  Returns (group..., n, n_categories,
    entropy)."""
    gcols = list(group_cols or [])
    per_c = (df.groupBy(*gcols, F.col(cat_col).alias("_cat"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    term = F.round(F.col("_c") * F.log(F.col("_c").cast("double")), 9) \
        .cast("decimal(38,12)")
    t = (per_c.groupBy(*gcols)
         .agg(F.sum("_c").cast("bigint").alias("n"),
              F.count(F.lit(1)).cast("bigint").alias("n_categories"),
              F.sum(term).alias("_clnc")))
    n = F.col("n").cast("double")
    return t.select(
        *gcols, "n", "n_categories",
        F.when(F.col("n") > 0,
               F.round(F.log(n) - F.col("_clnc").cast("double") / n, 6))
        .alias("entropy"))


def classification_report(
    df: DataFrame,
    label_col: str,
    prediction_col: str,
) -> DataFrame:
    """Binary classification report: confusion matrix plus precision,
    recall, F1 and accuracy in ONE conditional-aggregation scan — the
    eval companion to :func:`auc_roc` (threshold-free) and
    :func:`lift_table` (ranking view).  Label and prediction must be
    0/1-valued.

    Ratios are fixed-order IEEE doubles rounded to 6 dp; degenerate
    denominators (no predicted/actual positives) yield NULL rather than
    a poisoned 0.  Returns one row: (tp, fp, fn, tn, precision, recall,
    f1, accuracy)."""
    y = F.col(label_col).cast("int")
    p = F.col(prediction_col).cast("int")
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0)) \
        .cast("bigint")  # noqa: E731
    t = df.agg(
        cnt((y == 1) & (p == 1)).alias("tp"),
        cnt((y == 0) & (p == 1)).alias("fp"),
        cnt((y == 1) & (p == 0)).alias("fn"),
        cnt((y == 0) & (p == 0)).alias("tn"))
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    fn, tn = F.col("fn").cast("double"), F.col("tn").cast("double")
    prec = tp / (tp + fp)
    rec = tp / (tp + fn)
    return t.select(
        "tp", "fp", "fn", "tn",
        F.when(tp + fp > 0, F.round(prec, 6)).alias("precision"),
        F.when(tp + fn > 0, F.round(rec, 6)).alias("recall"),
        F.when((tp + fp > 0) & (tp + fn > 0) & (prec + rec > 0),
               F.round(2 * prec * rec / (prec + rec), 6)).alias("f1"),
        F.round((tp + tn) / (tp + fp + fn + tn), 6).alias("accuracy"))


def price_volume_mix(
    df: DataFrame,
    group_cols: list[str],
    revenue_col: str,
    volume_col: str,
    period_col: str = "period",
) -> DataFrame:
    """Price-volume-mix variance decomposition — the standard FP&A bridge
    between two periods: per group,

        Δrevenue = Δprice·vol_A  +  Δvol·price_A  +  Δprice·Δvol
                   (price effect)   (volume effect)   (mix/joint effect)

    with price = revenue/volume per period.  ``period_col`` must hold
    'A' (baseline) and 'B' (comparison).

    ONE conditional aggregate computes both periods' revenue and volume
    per group in a single scan (decimal-exact sums cast to double), the
    effects are fixed-order IEEE arithmetic rounded to 6 dp, and groups
    missing a period report NULL effects (a zero-volume period has no
    price).  Returns (group..., revenue_a, revenue_b, volume_a,
    volume_b, delta_revenue, price_effect, volume_effect, mix_effect).
    """
    dsum6 = lambda c, p: F.sum(  # noqa: E731
        F.when(F.col(period_col) == p, F.col(c).cast("decimal(38,6)"))
        .otherwise(F.lit(0).cast("decimal(38,6)"))).cast("double")
    g = df.groupBy(*group_cols).agg(
        dsum6(revenue_col, "A").alias("revenue_a"),
        dsum6(revenue_col, "B").alias("revenue_b"),
        dsum6(volume_col, "A").alias("volume_a"),
        dsum6(volume_col, "B").alias("volume_b"))
    ra, rb = F.col("revenue_a"), F.col("revenue_b")
    va, vb = F.col("volume_a"), F.col("volume_b")
    ok = (va > 0) & (vb > 0)
    pa, pb = ra / va, rb / vb
    return g.select(
        *group_cols,
        F.round(ra, 6).alias("revenue_a"),
        F.round(rb, 6).alias("revenue_b"),
        F.round(va, 6).alias("volume_a"),
        F.round(vb, 6).alias("volume_b"),
        F.round(rb - ra, 6).alias("delta_revenue"),
        F.when(ok, F.round((pb - pa) * va, 6)).alias("price_effect"),
        F.when(ok, F.round((vb - va) * pa, 6)).alias("volume_effect"),
        F.when(ok, F.round((pb - pa) * (vb - va), 6)).alias("mix_effect"))


def auc_roc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney rank statistic with midrank tie
    handling — the textbook definition, not a binned approximation:

        AUC = (Σ_pos avg_rank - P(P+1)/2) / (P · N₋)

    Scale design: the heavy table collapses to ONE row per DISTINCT score
    (hash aggregate with per-score positive counts) — ties are handled in
    aggregate, so the only ordered state is the distinct-score table (for
    a real model's calibrated scores this is thousands of rows, not the
    row count; a truly continuous 100 TB score column should be
    pre-rounded/binned — documented trade-off).  Doubling the midranks
    keeps everything in EXACT integer algebra (npos·(2·cum_prev + n + 1)
    summed as DECIMAL(38,0)); only the final ratio is floating point,
    fixed-order IEEE, rounded to 6 dp.  Returns one row: (n, n_pos,
    n_neg, auc).  NULL scores are EXCLUDED (an unscored row has no rank;
    silently ranking NULLs would also diverge between engines' nulls-
    first vs nulls-last window orders)."""
    df = df.filter(F.col(score_col).isNotNull())
    s = (df.groupBy(F.col(score_col).alias("_sc"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("_n"),
              F.sum(F.col(label_col).cast("int")).cast("bigint")
              .alias("_npos")))
    # r8: range-partitioned prefix over the score grid (_prefix_sums)
    c = (_prefix_sums(s, "_sc", [("_n", "_cp0")])
         .select("_n", "_npos", F.col("_cp0").cast("bigint").alias("_cp")))
    t = c.agg(
        F.sum(F.col("_npos").cast("decimal(38,0)")
              * (2 * F.col("_cp") + F.col("_n") + 1)).alias("_s2"),
        F.sum("_npos").cast("bigint").alias("_tp"),
        F.sum("_n").cast("bigint").alias("_tn"))
    tp, tn = F.col("_tp"), F.col("_tn")
    num = (F.col("_s2") - tp.cast("decimal(38,0)") * (tp + 1)).cast("double")
    return t.select(
        tn.alias("n"), tp.alias("n_pos"), (tn - tp).alias("n_neg"),
        F.when((tp > 0) & (tn - tp > 0),
               F.round(num / (F.lit(2.0) * tp * (tn - tp)), 6))
        .alias("auc"))


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Average precision (area under the precision-recall curve, step
    interpolation) — the ranking metric that matters when positives are
    rare and ROC AUC flatters (Davis & Goadrich 2006):

        AP = Σ_g pos_g · precision(cum through g) / P
        (groups = DISTINCT scores descending; ties scored as one block)

    Same scale shape as :func:`auc_roc`: the table collapses to one row
    per distinct score (hash aggregate), cumulative counts run over the
    sorted score grid, per-block precision is a fixed-order double
    rounded to 9 dp and weighted-summed as DECIMAL(38,12).  NULL scores
    are excluded (unscored rows have no rank).  Returns one row:
    (n, n_pos, average_precision)."""
    df = df.filter(F.col(score_col).isNotNull())
    s = (df.groupBy(F.col(score_col).alias("_sc"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("_n"),
              F.sum(F.col(label_col).cast("int")).cast("bigint")
              .alias("_npos")))
    # r8: range-partitioned DESCENDING prefix over the score grid
    c = (_prefix_sums(s, "_sc", [("_n", "_cn0"), ("_npos", "_cp0")],
                      inclusive=True, descending=True)
         .select("_n", "_npos",
                 F.col("_cn0").cast("bigint").alias("_cn"),
                 F.col("_cp0").cast("bigint").alias("_cp")))
    term = F.round(F.col("_npos").cast("double")
                   * (F.col("_cp").cast("double")
                      / F.col("_cn").cast("double")), 9) \
        .cast("decimal(38,12)")
    t = c.agg(F.sum(term).alias("_s"),
              F.sum("_n").cast("bigint").alias("_tn"),
              F.sum("_npos").cast("bigint").alias("_tp"))
    return t.select(
        F.col("_tn").alias("n"), F.col("_tp").alias("n_pos"),
        F.when(F.col("_tp") > 0,
               F.round(F.col("_s").cast("double")
                       / F.col("_tp").cast("double"), 6))
        .alias("average_precision"))


def drift_psi(
    ref: DataFrame,
    cur: DataFrame,
    numeric_cols: list[str] | None = None,
    categorical_cols: list[str] | None = None,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Distribution-drift report between two table versions: Population
    Stability Index terms per feature bin — the standard pre-training check
    that a new data snapshot still looks like the one the model saw.

    Numeric features bin by the REFERENCE version's equal-frequency
    quantile bounds (one exact-percentile aggregate, broadcast to both
    scans); categorical features bin by value.  Each side then reduces to
    (feature, bin, share) with one hash aggregate — two full scans total,
    never a shuffle of raw rows, so the check costs two passes at any
    scale.  PSI term = (p - q) * ln(p / q) with ``eps``-clamped shares
    (rounded to 6 dp for engine portability); sum terms per feature for the
    headline PSI (> 0.2 conventionally = significant drift)."""
    numeric_cols = numeric_cols or []
    categorical_cols = categorical_cols or []
    if not numeric_cols and not categorical_cols:
        raise ValueError("drift_psi needs at least one column")

    def binned(df: DataFrame, bounds) -> DataFrame:
        pieces = []
        for c in numeric_cols:
            b = df.crossJoin(F.broadcast(bounds))
            idx = F.aggregate(
                F.col(f"_bnds_{c}"), F.lit(0),
                lambda acc, bnd: acc + F.when(F.col(c) > bnd, 1).otherwise(0))
            pieces.append(b.select(
                F.lit(c).alias("feature"),
                F.when(F.col(c).isNull(), F.lit("(null)"))
                .otherwise(idx.cast("string")).alias("bin")))
        for c in categorical_cols:
            pieces.append(df.select(
                F.lit(c).alias("feature"),
                F.coalesce(F.col(c).cast("string"),
                           F.lit("(null)")).alias("bin")))
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out.groupBy("feature", "bin").agg(
            F.count(F.lit(1)).cast("double").alias("n"))

    ps = [i / n_bins for i in range(1, n_bins)]
    bounds = ref.agg(*[
        F.expr(f"percentile({c}, array({', '.join(map(repr, ps))}))")
        .alias(f"_bnds_{c}")
        for c in numeric_cols
    ]) if numeric_cols else ref.limit(1).agg(F.lit(1).alias("_dummy"))

    r = binned(ref, bounds).withColumnRenamed("n", "rn")
    c = binned(cur, bounds).withColumnRenamed("n", "cn")
    # per-feature totals via window over the tiny (feature, bin) table
    from pyspark.sql.window import Window

    j = r.join(c, ["feature", "bin"], "full_outer").fillna(
        0.0, subset=["rn", "cn"])
    wt = Window.partitionBy("feature")
    p = F.greatest(F.col("rn") / F.sum("rn").over(wt), F.lit(eps))
    q = F.greatest(F.col("cn") / F.sum("cn").over(wt), F.lit(eps))
    return j.select(
        "feature", "bin",
        F.round(p, 6).alias("ref_share"),
        F.round(q, 6).alias("cur_share"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


def checksum_ranges(
    df: DataFrame,
    key_col: str,
    cols: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Order-insensitive content checksum per key-range bucket — the
    anti-entropy primitive for comparing two copies of a 100 TB table
    without moving data: each side computes (bucket, n_rows, checksum),
    the tiny reports are diffed, and only mismatching buckets re-sync.

    bucket = md5(key) mod n_buckets (uniform regardless of key skew);
    checksum = SUM of each row's 48-bit md5 prefix over the caller-chosen
    column encodings — addition commutes, so the result is independent of
    partitioning and row order, and a sum of 48-bit values stays within
    BIGINT for ~30 T rows per bucket.  Callers must pass engine-portable
    string encodings in ``cols`` (e.g. pre-rounded numerics); raw doubles
    cast to string differ between engines."""
    enc = [F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
           for c in cols]
    row_hash = F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", *enc)), 1, 12), 16, 10
    ).cast("bigint")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 12),
               16, 10).cast("bigint"),
        F.lit(n_buckets)).cast("bigint")
    return (
        df.select(bucket.alias("bucket"), row_hash.alias("_h"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
             F.sum("_h").cast("bigint").alias("checksum"))
    )


# -- modules ---------------------------------------------------------------


def _merge_process(self, im: ValueMap, ctx):
    return {"table": merge_upsert(
        im["target"].data, im["source"].data, self.config["keys"])}


TableMergeUpsert = _simple_module(
    "table.merge.upsert",
    {"target": TABLE, "source": TABLE},
    {"table": TABLE},
    _merge_process,
    doc="MERGE/upsert: source rows replace key-matched target rows "
        "(config: keys=[...]); one anti-join shuffle + union.",
)


def _audit_process(self, im: ValueMap, ctx):
    checks = {name: F.expr(pred) for name, pred in self.config["checks"].items()}
    return {"table": quality_audit(im["table"].data, checks)}


TableQualityAudit = _simple_module(
    "table.quality.audit",
    {"table": TABLE},
    {"table": TABLE},
    _audit_process,
    doc="Constraint battery in one scan (config: checks={name: violation "
        "SQL predicate}); returns (check, n_violations).",
)

TableQualityExpectations = _simple_module(
    "table.quality.expectations",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": quality_expectations(
        im["table"].data, self.config["expectations"])},
    doc="Declarative expectation suite (completeness/uniqueness/min/max/"
        "accepted_values/row_count vs thresholds) in ONE aggregate scan; "
        "returns (expectation, column, observed, threshold, passed).",
)

def _scd2_process(self, im: ValueMap, ctx):
    return {"table": scd2_intervals(
        im["table"].data,
        key_col=self.config["key_column"],
        ts_col=self.config.get("ts_column", "ts"),
        value_col=self.config["value_column"],
        tiebreak_col=self.config.get("tiebreak_column", "event_id"))}


TableScd2 = _simple_module(
    "table.scd2.from_changes",
    {"table": TABLE},
    {"table": TABLE},
    _scd2_process,
    doc="Type-2 SCD intervals from a change log (config: key_column, "
        "value_column, ts_column, tiebreak_column); one shuffle, two "
        "windows sharing the sort.",
)

TableValidateSchema = _simple_module(
    "table.validate.schema",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": validate_schema(
        im["table"].data, self.config["expected"])},
    doc="Schema-contract report (config: expected={column: type}); "
        "driver-side, never scans data.",
)

def _diff_process(self, im: ValueMap, ctx):
    return {"table": table_diff(
        im["old"].data, im["new"].data, self.config["keys"],
        **config_kwargs(self, compare_cols="compare_columns"))}


TableDiff = _simple_module(
    "table.diff",
    {"old": TABLE, "new": TABLE},
    {"table": TABLE},
    _diff_process,
    doc="Version diff by key: added/removed/changed classification "
        "(config: keys, optional compare_columns); one full-outer join.",
)

def _apply_changes_process(self, im: ValueMap, ctx):
    return {"table": apply_changes(
        im["base"].data, im["changes"].data, self.config["keys"],
        ts_col=self.config.get("ts_column", "ts"),
        **config_kwargs(self, op_col="op_column",
                        tiebreak_col="tiebreak_column"))}


TableApplyChanges = _simple_module(
    "table.apply_changes",
    {"base": TABLE, "changes": TABLE},
    {"table": TABLE},
    _apply_changes_process,
    doc="CDC snapshot: latest upsert/delete per key applied to base "
        "(config: keys, ts_column, op_column, tiebreak_column).",
)

TableWinsorize = _simple_module(
    "table.winsorize",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": winsorize(
        im["table"].data, self.config["columns"],
        **config_kwargs(self, "lower", "upper"))},
    doc="Percentile clipping (config: columns, lower, upper); one bounds "
        "aggregate + broadcast clip.",
)

TableSkewReport = _simple_module(
    "table.skew_report",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": skew_report(
        im["table"].data, self.config["columns"],
        **config_kwargs(self, "top_n"))},
    doc="Heavy-key report for join planning (config: columns, top_n); "
        "all columns in one shuffle.",
)

TableImputeNulls = _simple_module(
    "table.impute_nulls",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": impute_nulls(
        im["table"].data, self.config["columns"],
        **config_kwargs(self, "strategy"))},
    doc="Mean/median NULL fill (config: columns, strategy); one bounds "
        "aggregate + broadcast coalesce.",
)

TableProfile = _simple_module(
    "table.profile",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": profile_columns(
        im["table"].data,
        self.config.get("columns") or im["table"].data.columns)},
    doc="Long-form per-column profile (nulls/distinct/min/max) in one scan "
        "(config: columns; defaults to all).",
)

TableAssociationPairs = _simple_module(
    "table.association.pairs",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": association_pairs(
        im["table"].data, self.config["basket_column"],
        self.config["item_column"],
        **config_kwargs(self, "min_support"))},
    doc="Market-basket pair mining: support/confidence/lift via basket-"
        "keyed self-join (config: basket_column, item_column, min_support).",
)

TableAssociationTriples = _simple_module(
    "table.association.triples",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": association_triples(
        im["table"].data, self.config["basket_column"],
        self.config["item_column"],
        **config_kwargs(self, "min_support"))},
    doc="Apriori level-3 frequent triples with in-plan anti-monotone "
        "pruning (config: basket_column, item_column, min_support).",
)

TableKthSmallest = _simple_module(
    "table.kth_smallest",
    {"table": TABLE},
    {"result": DICT},
    lambda self, im, ctx: {"result": {
        "k": self.config["k"],
        "value": kth_smallest_scalable(
            im["table"].data, self.config["column"], self.config["k"],
            **config_kwargs(self, "n_bins", "final_limit"))}},
    doc="Exact k-th smallest by histogram-refinement selection (config: "
        "column, k) — constant executor state, O(log) aggregate rounds.",
)

TableRegressionByGroup = _simple_module(
    "table.regression.by_group",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": regression_by_group(
        im["table"].data, self.config["group_columns"],
        self.config["x_column"], self.config["y_column"])},
    doc="Per-group OLS fit (slope/intercept/r2) in one aggregate pass "
        "(config: group_columns, x_column, y_column); exact decimal sums.",
)

TableCorrMatrix = _simple_module(
    "table.corr_matrix",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": corr_matrix(
        im["table"].data, self.config["columns"])},
    doc="Pairwise Pearson correlations in one pass (config: columns); "
        "exact decimal component sums.",
)

TableQuantileBins = _simple_module(
    "table.quantile_bins",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": quantile_bins(
        im["table"].data, self.config["column"],
        **config_kwargs(self, "n_bins", out_col="out_column"))},
    doc="Equal-frequency quantile bin index per row (config: column, "
        "n_bins); one bounds aggregate + broadcast compare.",
)

TableIncrementalAgg = _simple_module(
    "table.agg.incremental_maintain",
    {"base_agg": TABLE, "changes": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": incremental_agg_maintain(
        im["base_agg"].data, im["changes"].data, self.config["keys"],
        **config_kwargs(self, op_col="op_column", old_col="old_column",
                        new_col="new_column"))},
    doc="Fold a CDC change feed into a stored count/sum aggregate without "
        "rescanning the base (config: keys, op/old/new columns).",
)

def _drift_process(self, im: ValueMap, ctx):
    return {"table": drift_psi(
        im["ref"].data, im["cur"].data,
        **config_kwargs(self, "n_bins", numeric_cols="numeric_columns",
                        categorical_cols="categorical_columns"))}


TableDriftPsi = _simple_module(
    "table.drift.psi",
    {"ref": TABLE, "cur": TABLE},
    {"table": TABLE},
    _drift_process,
    doc="PSI drift report between two table versions (config: "
        "numeric_columns, categorical_columns, n_bins); two scans, "
        "reference-quantile binning.",
)

TableChecksumRanges = _simple_module(
    "table.checksum.ranges",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": checksum_ranges(
        im["table"].data, self.config["key_column"], self.config["columns"],
        **config_kwargs(self, "n_buckets"))},
    doc="Order-insensitive per-bucket content checksum (config: key_column, "
        "columns, n_buckets) for anti-entropy table comparison.",
)

def scale_features(
    df: DataFrame,
    cols: list[str],
    methods: tuple = ("minmax", "zscore"),
) -> DataFrame:
    """Feature scaling for ML pipelines: append ``<col>_minmax``
    ((x−min)/(max−min), 0 when constant), ``<col>_z``
    ((x−mean)/σ_pop, 0 when constant), and/or ``<col>_robust``
    ((x−median)/IQR — sklearn's RobustScaler, outlier-resistant) per
    requested column.

    ONE aggregate pass computes every column's min/max/sum/sum-of-squares
    (decimal-exact sums — order-independent, so mean and population σ are
    bit-stable doubles) plus exact p25/p50/p75 when robust scaling is
    requested, broadcast as a 1-row frame onto the scan; the scaled
    values are then a pure map.  Two passes over the data total — the
    same shape MLlib's StandardScaler/MinMaxScaler fit+transform uses.
    Outputs round to 6 dp."""
    dec = lambda c: F.sum(c.cast("decimal(38,10)")).cast("double")  # noqa: E731
    aggs = [F.count(F.lit(1)).cast("double").alias("_n")]
    for c in cols:
        aggs += [F.min(c).cast("double").alias(f"_mn_{c}"),
                 F.max(c).cast("double").alias(f"_mx_{c}"),
                 dec(F.col(c)).alias(f"_s_{c}"),
                 dec(F.col(c) * F.col(c)).alias(f"_q_{c}")]
        if "robust" in methods:
            aggs.append(F.expr(
                f"percentile({c}, array(0.25, 0.5, 0.75))")
                .alias(f"_pq_{c}"))
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        x = F.col(c).cast("double")
        mn, mx = F.col(f"_mn_{c}"), F.col(f"_mx_{c}")
        mean = F.col(f"_s_{c}") / F.col("_n")
        var = F.col(f"_q_{c}") / F.col("_n") - mean * mean
        if "minmax" in methods:
            out = out.withColumn(
                f"{c}_minmax",
                F.round(F.when(mx > mn, (x - mn) / (mx - mn))
                        .otherwise(F.lit(0.0)), 6))
        if "zscore" in methods:
            out = out.withColumn(
                f"{c}_z",
                F.round(F.when(var > 0, (x - mean) / F.sqrt(var))
                        .otherwise(F.lit(0.0)), 6))
        if "robust" in methods:
            med = F.element_at(F.col(f"_pq_{c}"), 2)
            iqr = (F.element_at(F.col(f"_pq_{c}"), 3)
                   - F.element_at(F.col(f"_pq_{c}"), 1))
            out = out.withColumn(
                f"{c}_robust",
                F.round(F.when(iqr > 0, (x - med) / iqr)
                        .otherwise(F.lit(0.0)), 6))
    drops = ["_n"] + [f"_{p}_{c}" for c in cols for p in ("mn", "mx", "s", "q")]
    if "robust" in methods:
        drops += [f"_pq_{c}" for c in cols]
    return out.drop(*drops)


def one_hot_encode(
    df: DataFrame,
    col: str,
    values: list | None = None,
) -> DataFrame:
    """One-hot encoding of a low-cardinality categorical: appends one 0/1
    integer column ``<col>_<value>`` per category (the MLlib
    OneHotEncoder surface, kept dense and readable).

    ``values`` pins the category vocabulary (the production shape — the
    encoder must be FIT once and applied to any split with a stable
    schema); when omitted it is derived from the data with one distinct
    aggregate (driver transfer bounded by the cardinality, which is the
    point of one-hot).  Unknown values encode as all-zeros.  Map-only —
    no shuffle, no UDFs."""
    if values is None:
        values = [r[0] for r in
                  df.select(col).distinct().orderBy(col).collect()
                  if r[0] is not None]
    out = df
    names = [f"{col}_{str(v).replace(' ', '_')}" for v in values]
    if len(set(names)) != len(names):
        raise ValueError(
            f"one_hot_encode: categories collide after sanitizing "
            f"(duplicate output columns among {names}); rename the "
            f"values or pass a disambiguated `values` list")
    for v, name in zip(values, names):
        out = out.withColumn(
            name, F.when(F.col(col) == v, 1).otherwise(0).cast("int"))
    return out


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit (Sweeney 2002 — the standard re-identification
    check before releasing a dataset): every combination of the
    quasi-identifier columns with its group size and a ``violates_k``
    flag (group smaller than ``k`` ⇒ those rows are re-identifiable to
    within < k candidates).

    ONE hash aggregate on the quasi-identifier tuple (map-side combine;
    only the tuple + a count shuffle) — the release gate is then
    ``violates_k`` = false everywhere, and the violating tuples are the
    exact generalization worklist.  Returns one row per equivalence
    class."""
    return (df.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).cast("bigint").alias("group_size"))
            .withColumn("violates_k", F.col("group_size") < k))


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
    salt: str = "dp",
) -> DataFrame:
    """Differentially-private release of a group-by count histogram via the
    Laplace mechanism (Dwork et al. 2006): count + Lap(1/ε) per cell —
    counting queries have sensitivity 1, so ε-DP needs scale b = 1/ε.

    Noise is DERIVED, not drawn: u = md5(cell-key ‖ salt) as 60 bits →
    [0,1), then the inverse-CDF transform −b·sign(u−½)·ln(1−2|u−½|).  That
    makes the release reproducible across runs/retries/engines (the oracle
    computes the identical noise), which is what the tests need; a real
    release keeps ``salt`` secret — a public salt would let anyone
    re-derive and subtract the noise.  The true count never leaves the
    plan.  ONE hash aggregate + map-only noise; the 1e-18 floor keeps the
    ln argument positive at the (probability 2⁻⁶⁰) u=0 corner."""
    key = F.concat_ws(
        "#", *[F.col(c).cast("string") for c in group_cols], F.lit(salt))
    u = (F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
         .cast("double") / F.lit(1152921504606846976.0))
    v = u - F.lit(0.5)
    noise = (F.lit(-1.0 / epsilon) * F.signum(v)
             * F.log(F.greatest(F.lit(1.0) - F.lit(2.0) * F.abs(v),
                                F.lit(1e-18))))
    return (df.groupBy(*group_cols)
            .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
            .select(*group_cols,
                    F.round(F.col("_c") + F.round(noise, 6), 6)
                    .alias("noisy_count"),
                    F.lit(float(epsilon)).alias("epsilon")))


# Poisson(1) inverse CDF thresholds (P(X<=k), k=0..4); weights cap at 5.
# Shared literals with the SQL twin — both engines binary-search the same
# constants, so resample weights match exactly.
POISSON1_CDF = (0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
                0.9810118431238462, 0.9963401531726563)


def _poisson_weighted(base: DataFrame, id_col: str, b_resamples: int,
                      salt: str) -> DataFrame:
    """Explode ``base`` to (row × resample) rows and attach the Poisson(1)
    weight ``_w`` (plus ``_b``), keeping every other ``base`` column.

    The md5-derived uniform is STAGED as its own column (r12, guide §1.2):
    written inline, each of the nested CASE's five threshold comparisons
    embeds its own copy of the md5 chain, and codegen subexpression
    elimination does not reach into conditional branches — ~2 md5
    evaluations per (row, resample) on average; staged it is exactly one.
    The staged division and comparisons are bit-identical, so weights (and
    thus results) are unchanged."""
    keep = [c for c in base.columns if c != id_col]
    exploded = base.select(
        F.col(id_col), *keep,
        F.explode(F.sequence(F.lit(1), F.lit(b_resamples))).alias("_b"))
    u = (F.conv(F.substring(F.md5(F.concat_ws(
        "#", F.col(id_col).cast("string"), F.col("_b").cast("string"),
        F.lit(salt))), 1, 15), 16, 10).cast("bigint").cast("double")
        / F.lit(1152921504606846976.0))
    staged = exploded.select(*keep, "_b", u.alias("_u"))
    w = F.lit(5)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(F.col("_u") < F.lit(POISSON1_CDF[k]), F.lit(k)) \
            .otherwise(w)
    return staged.select(*keep, "_b", w.cast("bigint").alias("_w"))


def bootstrap_ci_mean(
    df: DataFrame,
    value_col: str,
    id_col: str,
    b_resamples: int = 100,
    level: float = 0.95,
    salt: str = "boot",
) -> DataFrame:
    """Percentile confidence interval for the mean via the POISSON
    bootstrap (Chamandy et al. 2012) — the resampling scheme that actually
    distributes: classic bootstrap indexes n draws into the full dataset
    (impossible shuffle at 100 TB), Poisson bootstrap gives each row an
    iid Poisson(1) multiplicity per resample, so resampling becomes a
    map-side weight and ALL ``b_resamples`` resample means come out of ONE
    aggregate (explode feeds the partial agg, so the shuffle is B rows per
    partition, not B× the data; CPU is B× the scan, the stated budget).

    Weights derive from md5(id ‖ b ‖ salt) against the shared Poisson(1)
    CDF literals — reproducible across runs/engines.  Per-resample sums
    are round-9 decimal-exact; the percentile CI picks ranks
    ceil(α/2·B) / ceil((1−α/2)·B) over the B means (mean then resample-id
    tie-break).  NULL values are excluded rows (they count in no
    denominator).  Returns one row
    (b_resamples, n_rows, point_mean, ci_lo, ci_hi)."""
    alpha = 1.0 - level
    lo_rank = max(1, math.ceil(alpha / 2 * b_resamples))
    hi_rank = min(b_resamples, math.ceil((1 - alpha / 2) * b_resamples))
    d9 = lambda c: F.round(c, 9).cast("decimal(38,12)")  # noqa: E731
    x = F.col(value_col).cast("double")

    # NULL values are EXCLUDED rows (round-7 ADVICE): without the filter
    # the decimal sums skip NULLs while the count/Σw denominators include
    # them, biasing both the point estimate and every resample mean
    # downward.  Filter once, up front, so every denominator below agrees
    # (same convention as average_precision / ks_statistic).
    nn = df.filter(x.isNotNull())
    # Spread the rows BEFORE the B× explode: a small input often arrives as
    # one split, and exploding inside that task would put all B×N weight
    # evaluations on one core (measured 34s -> 3s at sf0.1/B=100).  The
    # pre-explode shuffle moves only the raw rows, never the B× volume.
    base = nn.select(F.col(id_col), x.alias("_x")).repartition(
        df.sparkSession.sparkContext.defaultParallelism)
    exploded = _poisson_weighted(base, id_col, b_resamples, salt)
    # The point estimate comes out of the SAME exploded aggregate (r12,
    # guide §1.2): every _b group contains every row exactly once, so the
    # _b = 1 group's plain decimal sum + count ARE the full-table sums —
    # no second scan of the input.
    per_b = (exploded.groupBy("_b")
             .agg(F.sum(d9(F.col("_w").cast("double") * F.col("_x")))
                  .alias("_s"),
                  F.sum("_w").cast("bigint").alias("_n"),
                  F.sum(d9(F.col("_x"))).alias("_sx"),
                  F.count(F.lit(1)).cast("bigint").alias("_c")))
    from ..io import cut_lineage

    # Materialize the B-row means frame: every branch below would otherwise
    # re-execute the exploded B×N pipeline (Spark has no cross-branch plan
    # CSE) — measured 37s -> ~14s at sf0.1 / B=100 from this alone.
    means = cut_lineage(per_b.select(
        "_b",
        F.round(F.col("_s").cast("double") / F.col("_n").cast("double"), 9)
        .alias("_m"), "_sx", "_c"))
    from pyspark.sql.window import Window as _W

    ranked = means.select(
        "_m", F.row_number().over(_W.orderBy(F.col("_m"), F.col("_b")))
        .alias("_r"))
    ci = ranked.agg(
        F.min(F.when(F.col("_r") == lo_rank, F.col("_m"))).alias("ci_lo"),
        F.min(F.when(F.col("_r") == hi_rank, F.col("_m"))).alias("ci_hi"))
    # agg (not a bare filter) so an EMPTY input still yields one row with
    # n_rows = 0 / NULL mean — the same shape the old full-table aggregate
    # produced
    point = means.filter(F.col("_b") == 1).agg(
        F.coalesce(F.max("_c"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.round(F.max("_sx").cast("double")
                / F.max("_c").cast("double"), 9).alias("point_mean"))
    return (point.crossJoin(F.broadcast(ci))
            .select(F.lit(b_resamples).cast("bigint").alias("b_resamples"),
                    "n_rows", "point_mean", "ci_lo", "ci_hi"))


def bootstrap_ab_diff(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_col: str,
    group_a,
    group_b,
    b_resamples: int = 100,
    level: float = 0.95,
    salt: str = "boot",
) -> DataFrame:
    """Percentile CI for the DIFFERENCE in group means — the A/B-test
    uplift interval, via the same Poisson bootstrap as
    :func:`bootstrap_ci_mean` (Chamandy et al. 2012): each row draws an
    iid Poisson(1) weight per resample from md5(id ‖ b ‖ salt), so ALL
    ``b_resamples`` resampled (group, mean) pairs come out of ONE
    (resample, group) aggregate; the B diffs then rank on a B-row frame.
    Resampling is per-row within each group — the two groups resample
    independently, the standard two-sample bootstrap.

    Pairs with :func:`cuped_adjustment` as the experimentation readout:
    CUPED says how much variance the covariate removes, this says whether
    the uplift's interval clears zero.  NULL metric values are excluded
    rows.  Returns 1 row: (b_resamples, n_a, n_b, mean_a, mean_b, diff,
    ci_lo, ci_hi)."""
    alpha = 1.0 - level
    lo_rank = max(1, math.ceil(alpha / 2 * b_resamples))
    hi_rank = min(b_resamples, math.ceil((1 - alpha / 2) * b_resamples))
    d9 = lambda c: F.round(c, 9).cast("decimal(38,12)")  # noqa: E731
    x = F.col(value_col).cast("double")
    g = F.col(group_col)

    nn = df.filter(x.isNotNull() & g.isin([group_a, group_b]))
    base = nn.select(F.col(id_col), x.alias("_x"),
                     (g == F.lit(group_a)).alias("_is_a")).repartition(
        df.sparkSession.sparkContext.defaultParallelism)
    exploded = _poisson_weighted(base, id_col, b_resamples, salt)
    # Point stats come out of the SAME exploded aggregate (r12, guide
    # §1.2): each (_b = 1, group) cell contains that group's every row
    # exactly once, so its plain decimal sum + count ARE the per-group
    # full-table sums — no second scan of the input.
    per_bg = (exploded.groupBy("_b", "_is_a")
              .agg(F.sum(d9(F.col("_w").cast("double") * F.col("_x")))
                   .alias("_s"),
                   F.sum("_w").cast("bigint").alias("_n"),
                   F.sum(d9(F.col("_x"))).alias("_sx"),
                   F.count(F.lit(1)).cast("bigint").alias("_c")))
    from ..io import cut_lineage

    # 2B-row frame; materialize so the a/b split + rank don't re-run the
    # exploded B×N pipeline (same reason as bootstrap_ci_mean)
    # NO round on the means/diff: the decimal sums and bigint counts are
    # identical across engines, so the double division and subtraction are
    # bit-identical — while ROUND(double, 9) is the one step where engine
    # tie-breaking can diverge by 1e-9 (observed on this op's ci_hi)
    per_bg = cut_lineage(per_bg.select(
        "_b", "_is_a",
        (F.col("_s").cast("double") / F.col("_n").cast("double"))
        .alias("_m"), "_sx", "_c"))
    a_side = per_bg.filter(F.col("_is_a")).select("_b",
                                                  F.col("_m").alias("_ma"))
    b_side = per_bg.filter(~F.col("_is_a")).select("_b",
                                                   F.col("_m").alias("_mb"))
    diffs = a_side.join(b_side, "_b").select(
        "_b", (F.col("_ma") - F.col("_mb")).alias("_d"))
    from pyspark.sql.window import Window as _W

    ranked = diffs.select(
        "_d", F.row_number().over(_W.orderBy(F.col("_d"), F.col("_b")))
        .alias("_r"))
    ci = ranked.agg(
        F.min(F.when(F.col("_r") == lo_rank, F.col("_d"))).alias("ci_lo"),
        F.min(F.when(F.col("_r") == hi_rank, F.col("_d"))).alias("ci_hi"))
    # assemble via conditional aggregation, NOT per-group filters joined
    # together: an empty group (typo'd label, empty arm) then yields ONE
    # row with NULL n/mean/diff on the missing side instead of a silent
    # empty frame (r8 review) — matching the SQL twin's scalar subqueries.
    # Reads the checkpointed per-(b, group) frame's _b = 1 rows, so an
    # entirely missing group is simply an absent row (NULL via the
    # conditional max), exactly as the old full-table groupBy produced.
    pt = per_bg.filter(F.col("_b") == 1).agg(
        F.max(F.when(F.col("_is_a"), F.col("_c"))).alias("n_a"),
        F.max(F.when(~F.col("_is_a"), F.col("_c"))).alias("n_b"),
        F.max(F.when(F.col("_is_a"),
                     F.col("_sx").cast("double")
                     / F.col("_c").cast("double"))).alias("mean_a"),
        F.max(F.when(~F.col("_is_a"),
                     F.col("_sx").cast("double")
                     / F.col("_c").cast("double"))).alias("mean_b"))
    return (pt.crossJoin(F.broadcast(ci))
            .select(F.lit(b_resamples).cast("bigint").alias("b_resamples"),
                    "n_a", "n_b", "mean_a", "mean_b",
                    (F.col("mean_a") - F.col("mean_b")).alias("diff"),
                    "ci_lo", "ci_hi"))


def l_diversity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 2,  # noqa: E741 — the standard name of the parameter
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the follow-up to
    k-anonymity: a k-anonymous class is still leaky if every member shares
    the same sensitive value, so each quasi-identifier equivalence class
    must contain at least ``l`` DISTINCT sensitive values.

    ONE aggregate on the quasi-identifier tuple computing group size and
    exact distinct-sensitive count (Spark's two-phase distinct expansion —
    map-side partials, no second scan).  Returns one row per equivalence
    class with ``violates_l`` as the release gate."""
    return (df.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).cast("bigint").alias("group_size"),
                 F.count_distinct(F.col(sensitive_col)).cast("bigint")
                 .alias("n_sensitive_values"))
            .withColumn("violates_l", F.col("n_sensitive_values") < l))


def t_closeness_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    rung of the release-gate ladder after k-anonymity and l-diversity: an
    equivalence class leaks if the DISTRIBUTION of its sensitive values
    strays from the global distribution, measured here by total variation
    distance (the categorical-attribute instantiation):

        TVD(class) = ½ Σ_v |p_class(v) − p_global(v)|

    EXACT integer algebra throughout: |p_c − p_g| = |cnt_cv·N − cnt_v·n_c|
    / (n_c·N), so the sum accumulates DECIMAL(38,0) integer numerators and
    divides ONCE at the end — no float comparison ever decides a
    violation.  Cost: one (quasi, sensitive) aggregate + two tiny rollups
    + a classes × |sensitive domain| grid (the sensitive domain is bounded
    — segments, diagnoses, brackets — so the grid is classes-sized).
    Returns per class: (quasi…, group_size, tvd, violates_t)."""
    ccv = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_cv"))
    cls = ccv.groupBy(*quasi_cols).agg(
        F.sum("_cv").cast("decimal(38,0)").alias("_nc"))
    gv = df.groupBy(sensitive_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_nv"))
    tot = df.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"))
    grid = (cls.crossJoin(F.broadcast(gv))
            .join(ccv, [*quasi_cols, sensitive_col], "left")
            .crossJoin(F.broadcast(tot))
            .select(*quasi_cols, "_nc", "_n",
                    F.abs(F.coalesce(F.col("_cv"),
                                     F.lit(0).cast("decimal(38,0)"))
                          * F.col("_n") - F.col("_nv") * F.col("_nc"))
                    .alias("_num")))
    return (grid.groupBy(*quasi_cols, "_nc", "_n")
            .agg(F.sum("_num").alias("_s"))
            .select(*quasi_cols,
                    F.col("_nc").cast("bigint").alias("group_size"),
                    F.round(F.col("_s").cast("double")
                            / (F.lit(2.0) * F.col("_nc").cast("double")
                               * F.col("_n").cast("double")), 6)
                    .alias("tvd"))
            .withColumn("violates_t", F.col("tvd") > float(t)))


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 10.0,
) -> DataFrame:
    """Smoothed target (mean) encoding — the classic high-cardinality
    categorical feature (Micci-Barreca 2001):

        enc(c) = (sum_target(c) + prior_mean * m) / (count(c) + m)

    with ``m = smoothing``.  The shrinkage pulls rare categories toward
    the global prior so they don't memorize noise.

    Scale design: one category-key aggregate over the heavy table (sums
    accumulated as DECIMAL(38,6) — exact and partition-order-invariant —
    then cast to double so the closed form runs in IEEE arithmetic with a
    fixed operation order, reproducible on any engine), one 1-row
    broadcast for the prior, and one broadcast-eligible join back onto
    the input.  The heavy table shuffles once on the category key; the
    mapping table is |categories| rows.  Returns the input plus
    ``<cat_col>_enc`` (6 dp)."""
    dsum6 = lambda c: F.sum(  # noqa: E731
        F.col(c).cast("decimal(38,6)")).cast("double")
    g = df.agg(
        dsum6(target_col).alias("_gs"),
        F.count(F.col(target_col)).cast("double").alias("_gn"))
    per_cat = (df.groupBy(F.col(cat_col))
               .agg(dsum6(target_col).alias("_s"),
                    F.count(F.col(target_col)).cast("double").alias("_n")))
    m = F.lit(float(smoothing))
    enc = F.round(
        (F.col("_s") + F.col("_gs") / F.col("_gn") * m)
        / (F.col("_n") + m), 6)
    mapping = (per_cat.crossJoin(F.broadcast(g))
               .select(F.col(cat_col),
                       enc.alias(f"{cat_col}_enc")))
    # NOT force-broadcast: the whole point of target encoding is HIGH
    # cardinality — a forced broadcast of millions of categories would
    # OOM the driver.  AQE broadcasts small mappings on its own.
    return df.join(mapping, cat_col, "left")


def ks_statistic(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test — the nonparametric
    companion to :func:`drift_psi` (no binning choice to defend):

        KS = sup_x |F_ref(x) − F_cur(x)|

    Scale design: both samples collapse to ONE row per DISTINCT value with
    per-sample counts (hash aggregate — the AUC/Gini shape), cumulative
    counts run over the sorted distinct grid, and the sup is found in
    EXACT integer algebra — |cum_ref·n_cur − cum_cur·n_ref| as
    DECIMAL(38,0), so no float comparison ever picks the argmax; ties on
    the max pick the smallest value (deterministic).  Only the final
    KS ratio and the 3-term asymptotic p-value (2Σ(−1)^{k−1}e^{−2k²λ²},
    λ = KS·√(n₁n₂/(n₁+n₂))) are floating point, fixed-order, rounded 6 dp.
    The grid CDFs run as the range-partitioned :func:`_prefix_sums`
    (r8: previously one unpartitioned window over the distinct grid —
    the skyline-class serial stretch; pre-round a truly continuous
    100 TB column to bound the grid itself).  Returns one
    row: (n_ref, n_cur, ks, ks_at, p_value)."""
    v = F.col(value_col).cast("decimal(38,6)")
    tagged = (ref.select(v.alias("_v"), F.lit(1).alias("_r"))
              .unionByName(cur.select(v.alias("_v"), F.lit(0).alias("_r")))
              .filter(F.col("_v").isNotNull()))
    per_v = tagged.groupBy("_v").agg(
        F.sum("_r").cast("decimal(38,0)").alias("_c1"),
        F.sum(1 - F.col("_r")).cast("decimal(38,0)").alias("_c2"))
    cum = (_prefix_sums(per_v, "_v",
                        [("_c1", "_f1"), ("_c2", "_f2")], inclusive=True)
           .select("_v", "_f1", "_f2"))
    # r12: sample sizes are the inclusive CDF grid's maxima (cumulative
    # counts are monotone; the last value's cum IS Σ_c — identical
    # decimal sums), read off the checkpointed grid instead of
    # re-aggregating per_v, which re-ran the two-table union scan.
    tot = cum.agg(F.max("_f1").cast("decimal(38,0)").alias("_n1"),
                  F.max("_f2").cast("decimal(38,0)").alias("_n2"))
    num = cum.crossJoin(F.broadcast(tot)).select(
        "_v", "_n1", "_n2",
        F.abs(F.col("_f1") * F.col("_n2")
              - F.col("_f2") * F.col("_n1")).alias("_num"))
    mx = num.groupBy("_n1", "_n2").agg(F.max("_num").alias("_mx"))
    at = (num.join(F.broadcast(mx.select("_mx")), num["_num"] == F.col("_mx"))
          .groupBy("_n1", "_n2", "_mx")
          .agg(F.min("_v").alias("_at")))
    n1d = F.col("_n1").cast("double")
    n2d = F.col("_n2").cast("double")
    ks = F.col("_mx").cast("double") / (n1d * n2d)
    lam = ks * F.sqrt(n1d * n2d / (n1d + n2d))
    p = (F.lit(2.0) * (F.exp(F.lit(-2.0) * lam * lam)
                       - F.exp(F.lit(-8.0) * lam * lam)
                       + F.exp(F.lit(-18.0) * lam * lam)))
    return at.select(
        F.col("_n1").cast("bigint").alias("n_ref"),
        F.col("_n2").cast("bigint").alias("n_cur"),
        F.round(ks, 6).alias("ks"),
        F.col("_at").cast("double").alias("ks_at"),
        F.round(F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0)), 6)
        .alias("p_value"))


def regression_stump(
    df: DataFrame,
    feature_col: str,
    target_col: str,
) -> DataFrame:
    """Exact best-split search for a depth-1 regression tree (CART node) —
    the inner loop of every GBDT/random-forest trainer, distributed:

        split* = argmax_v  S_L²/n_L + S_R²/n_R   over x ≤ v partitions
        (equivalent to argmin SSE_L + SSE_R — variance reduction)

    Scale design is the AUC/Gini distinct-value-grid shape: ONE hash
    aggregate collapses the table to (distinct feature value → count,
    decimal-exact Σy), a cumulative pass over the sorted grid yields every
    candidate split's left/right sufficient statistics simultaneously
    (XGBoost's exact greedy algorithm), and the argmax is one struct-min
    with round-6 scores and smallest-value tie-break.  The only ordered
    state is the distinct-value grid; for truly continuous 100 TB features
    pre-bin to quantile candidates (the approx mode every GBDT uses).
    Returns 1 row: (split_value, n_left, n_right, mean_left, mean_right,
    score, gain) with gain = score − S²/N ≥ 0."""
    v = F.col(feature_col).cast("decimal(38,6)")
    y = F.col(target_col).cast("decimal(38,10)")
    per_v = (df.filter(v.isNotNull() & y.isNotNull())
             .groupBy(v.alias("_v"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("_c"),
                  F.sum(y).cast("decimal(38,10)").alias("_s")))
    # r8: range-partitioned prefix over the split-candidate grid
    cum = (_prefix_sums(per_v, "_v",
                        [("_c", "_nl0"), ("_s", "_sl", "decimal(38,10)")],
                        inclusive=True)
           .select("_v", F.col("_nl0").cast("bigint").alias("_nl"), "_sl"))
    # r12: totals read off the checkpointed inclusive prefix grid — the
    # count cum is monotone (max = Σ_c) and the Σy total is the last
    # value's cumulative (max_by value order; Σy can be negative, so
    # max_by not max) — instead of re-aggregating per_v, which re-ran
    # the full table scan.  Identical exact-decimal values.
    tot = cum.agg(F.max("_nl").cast("bigint").alias("_n"),
                  F.max_by("_sl", F.col("_v")).cast("decimal(38,10)")
                  .alias("_st"))
    cand = (cum.crossJoin(F.broadcast(tot))
            .filter(F.col("_nl") < F.col("_n")))
    nl = F.col("_nl").cast("double")
    nr = (F.col("_n") - F.col("_nl")).cast("double")
    # round-4 WHILE DECIMAL before every double cast: the sums carry 2-dp
    # price values, so 4 dp is lossless — but it caps the scaled int128
    # magnitude under 2^53, where DuckDB's decimal->double cast is exact;
    # at scale 10 the cast drifts 1 ulp per engine and the st^2/n
    # subtraction amplifies it ~1e6x (observed +0.25 on gain at sf0.1)
    sl = F.round(F.col("_sl"), 4).cast("double")
    sr = F.round(F.col("_st") - F.col("_sl"), 4).cast("double")
    score = F.round(sl * sl / nl + sr * sr / nr, 6)
    best = cand.groupBy("_n", "_st").agg(
        F.min(F.struct((-score).alias("ns"), F.col("_v").alias("v"),
                       score.alias("sc"), F.col("_nl").alias("nl"),
                       F.col("_sl").alias("sl"))).alias("_b"))
    stot = F.round(F.col("_st"), 4).cast("double")
    ntot = F.col("_n").cast("double")
    return best.select(
        F.col("_b.v").cast("double").alias("split_value"),
        F.col("_b.nl").alias("n_left"),
        (F.col("_n") - F.col("_b.nl")).cast("bigint").alias("n_right"),
        F.round(F.round(F.col("_b.sl"), 4).cast("double")
                / F.col("_b.nl").cast("double"), 6).alias("mean_left"),
        F.round(F.round(F.col("_st") - F.col("_b.sl"), 4).cast("double")
                / (F.col("_n") - F.col("_b.nl")).cast("double"), 6)
        .alias("mean_right"),
        F.col("_b.sc").alias("score"),
        F.round(F.col("_b.sc") - stot * stot / ntot, 6).alias("gain"))


def _det3(a, b, c, d, e, f, g, h, i):
    """3x3 determinant with a FIXED expansion order (first-row cofactors,
    products left-to-right) — both engines must evaluate the identical
    IEEE-double expression tree, so the formula is written once here and
    mirrored verbatim in the SQL oracle."""
    return a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)


def linear_regression_normal(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
) -> DataFrame:
    """Multiple linear regression by DISTRIBUTED NORMAL EQUATIONS — the
    exact OLS fit (intercept + 2 features) in two passes, no iteration:

        w = (XᵀX)⁻¹ Xᵀy

    Pass 1 accumulates the Gram sums n, Σx₁, Σx₂, Σx₁², Σx₁x₂, Σx₂²,
    Σy, Σx₁y, Σx₂y in ONE map-side-combined aggregate (per-row products
    rounded to 9 dp and summed as DECIMAL(38,12) — exact, partition-order
    invariant); the 3×3 system is then solved IN-PLAN by Cramer's rule on
    the broadcast 1-row sums frame (fixed IEEE expression order — bit
    reproducible).  Pass 2 re-scans with the coefficients (rounded 8 dp)
    broadcast to accumulate SSE/SST for R².

    Scale shape: the heavy table shuffles NOTHING — both passes are full
    scans collapsed map-side to one row; only 12 numbers ever move.  For
    d features the same pattern accumulates the (d+1)² Gram cells long-form
    and solves the tiny system on the driver (bounded d² collect) — this
    entry keeps d=2 so the solve itself stays in-plan and oracle-checkable.

    Reference parity: the regression companion to
    ``table.regression.by_group`` (per-group simple OLS) — this is the
    multi-feature global fit.  Returns 1 row:
    (n, intercept, coef_<x1>, coef_<x2>, r2).  A degenerate design matrix
    (collinear or constant features, |det| ≈ 0) returns NULL coefficients
    and NULL r2 by contract rather than silent NULL/Inf arithmetic."""
    if len(x_cols) != 2:
        raise ValueError("linear_regression_normal: exactly 2 features "
                         "(see docstring for the general-d pattern)")
    x1c, x2c = x_cols
    y = F.col(y_col).cast("double")
    x1 = F.col(x1c).cast("double")
    x2 = F.col(x2c).cast("double")
    dsq = lambda e: F.sum(  # noqa: E731
        F.round(e, 9).cast("decimal(38,12)")).cast("double")
    # rows with a NULL target or feature are EXCLUDED rows — without the
    # filter F.count counts them while the decimal sums skip them, and the
    # normal equations solve with an inflated n (r8 review; same contract
    # as bootstrap_ci_mean)
    df = df.filter(y.isNotNull() & x1.isNotNull() & x2.isNotNull())
    sums = df.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        dsq(x1).alias("_sx1"), dsq(x2).alias("_sx2"),
        dsq(x1 * x1).alias("_s11"), dsq(x1 * x2).alias("_s12"),
        dsq(x2 * x2).alias("_s22"),
        dsq(y).alias("_sy"), dsq(x1 * y).alias("_s1y"),
        dsq(x2 * y).alias("_s2y"))
    n_, sx1, sx2 = F.col("_n"), F.col("_sx1"), F.col("_sx2")
    s11, s12, s22 = F.col("_s11"), F.col("_s12"), F.col("_s22")
    sy, s1y, s2y = F.col("_sy"), F.col("_s1y"), F.col("_s2y")
    det = _det3(n_, sx1, sx2, sx1, s11, s12, sx2, s12, s22)
    det0 = _det3(sy, sx1, sx2, s1y, s11, s12, s2y, s12, s22)
    det1 = _det3(n_, sy, sx2, sx1, s1y, s12, sx2, s2y, s22)
    det2 = _det3(n_, sx1, sy, sx1, s11, s1y, sx2, s12, s2y)
    # Singular-matrix guard (round-7 ADVICE): a degenerate design matrix
    # (collinear or constant features) gives det ≈ 0; under non-ANSI Spark
    # the division would yield NULL/Inf silently.  Gate on |det| relative
    # to the Gram magnitude so the degenerate case returns NULL
    # coefficients and NULL r2 BY CONTRACT (documented) rather than by
    # accident.  Non-degenerate fits are untouched (the oracle shares the
    # ungated formula; it only diverges on inputs that are out of
    # contract anyway).
    scale = F.greatest(F.abs(n_), F.abs(s11), F.abs(s22), F.lit(1.0))
    ok = F.abs(det) > scale * F.lit(1e-12)
    coefs = sums.select(
        n_.cast("bigint").alias("n"),
        F.when(ok, F.round(det0 / det, 8)).alias("_b0"),
        F.when(ok, F.round(det1 / det, 8)).alias("_b1"),
        F.when(ok, F.round(det2 / det, 8)).alias("_b2"),
        (sy / n_).alias("_ybar"))
    fit = df.crossJoin(F.broadcast(coefs))
    resid = y - (F.col("_b0") + F.col("_b1") * x1 + F.col("_b2") * x2)
    dev = y - F.col("_ybar")
    r2 = fit.groupBy("n", "_b0", "_b1", "_b2").agg(
        dsq(resid * resid).alias("_sse"),
        dsq(dev * dev).alias("_sst"))
    return r2.select(
        "n",
        F.round(F.col("_b0"), 6).alias("intercept"),
        F.round(F.col("_b1"), 6).alias(f"coef_{x1c}"),
        F.round(F.col("_b2"), 6).alias(f"coef_{x2c}"),
        F.when(F.col("_sst") > 0,
               F.round(1.0 - F.col("_sse") / F.col("_sst"), 6))
        .alias("r2"))


def ridge_regression_normal(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    lam: float = 1.0,
) -> DataFrame:
    """Ridge regression (L2-regularized OLS) by distributed normal
    equations — the same two-pass shape as
    :func:`linear_regression_normal` with the penalized system

        w = (XᵀX + λ·diag(0, 1, 1))⁻¹ Xᵀy

    (the intercept is unpenalized, the standard convention).  λ > 0 makes
    the system nonsingular even for collinear features — ridge is the
    production answer to the OLS singular-design contract.  Identical
    scale shape: one map-side-combined Gram aggregate, in-plan Cramer
    solve on the broadcast 1-row sums frame, one residual pass for R²
    (vs the unregularized SST, so r2 is comparable with the OLS fit).
    Returns 1 row: (n, lambda, intercept, coef_<x1>, coef_<x2>, r2)."""
    if len(x_cols) != 2:
        raise ValueError("ridge_regression_normal: exactly 2 features "
                         "(see linear_regression_normal for the "
                         "general-d pattern)")
    x1c, x2c = x_cols
    y = F.col(y_col).cast("double")
    x1 = F.col(x1c).cast("double")
    x2 = F.col(x2c).cast("double")
    dsq = lambda e: F.sum(  # noqa: E731
        F.round(e, 9).cast("decimal(38,12)")).cast("double")
    # NULL target/feature rows are excluded (same contract as OLS)
    df = df.filter(y.isNotNull() & x1.isNotNull() & x2.isNotNull())
    sums = df.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        dsq(x1).alias("_sx1"), dsq(x2).alias("_sx2"),
        dsq(x1 * x1).alias("_s11"), dsq(x1 * x2).alias("_s12"),
        dsq(x2 * x2).alias("_s22"),
        dsq(y).alias("_sy"), dsq(x1 * y).alias("_s1y"),
        dsq(x2 * y).alias("_s2y"))
    n_, sx1, sx2 = F.col("_n"), F.col("_sx1"), F.col("_sx2")
    s11 = F.col("_s11") + F.lit(float(lam))
    s12 = F.col("_s12")
    s22 = F.col("_s22") + F.lit(float(lam))
    sy, s1y, s2y = F.col("_sy"), F.col("_s1y"), F.col("_s2y")
    det = _det3(n_, sx1, sx2, sx1, s11, s12, sx2, s12, s22)
    det0 = _det3(sy, sx1, sx2, s1y, s11, s12, s2y, s12, s22)
    det1 = _det3(n_, sy, sx2, sx1, s1y, s12, sx2, s2y, s22)
    det2 = _det3(n_, sx1, sy, sx1, s11, s1y, sx2, s12, s2y)
    # lam=0 (or a pathological design) degenerates to the unguarded OLS
    # division — keep the same relative-|det| gate as
    # linear_regression_normal so the degenerate case returns NULLs by
    # contract instead of NULL/Inf arithmetic (r8 review)
    scale = F.greatest(F.abs(n_), F.abs(s11), F.abs(s22), F.lit(1.0))
    ok = F.abs(det) > scale * F.lit(1e-12)
    coefs = sums.select(
        n_.cast("bigint").alias("n"),
        F.when(ok, F.round(det0 / det, 8)).alias("_b0"),
        F.when(ok, F.round(det1 / det, 8)).alias("_b1"),
        F.when(ok, F.round(det2 / det, 8)).alias("_b2"),
        (sy / n_).alias("_ybar"))
    fit = df.crossJoin(F.broadcast(coefs))
    resid = y - (F.col("_b0") + F.col("_b1") * x1 + F.col("_b2") * x2)
    dev = y - F.col("_ybar")
    r2 = fit.groupBy("n", "_b0", "_b1", "_b2").agg(
        dsq(resid * resid).alias("_sse"),
        dsq(dev * dev).alias("_sst"))
    return r2.select(
        "n",
        F.lit(float(lam)).alias("lambda"),
        F.round(F.col("_b0"), 6).alias("intercept"),
        F.round(F.col("_b1"), 6).alias(f"coef_{x1c}"),
        F.round(F.col("_b2"), 6).alias(f"coef_{x2c}"),
        F.when(F.col("_sst") > 0,
               F.round(1.0 - F.col("_sse") / F.col("_sst"), 6))
        .alias("r2"))


def kfold_cv_ols(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """K-fold cross-validated OLS from ONE Gram aggregate — the
    distributed trick that makes CV nearly free for linear models: the
    Gram matrix is additive over rows, so

        Gram(train fold i) = Gram(all) − Gram(fold i)

    and every per-fold sum comes out of a single groupBy(fold) aggregate.
    The data is scanned twice TOTAL (Gram pass + scoring pass) instead of
    2k times; all k Cramer solves happen in-plan on the k-row fold frame.
    Folds are ``pmod(id, k)`` — deterministic and portable, so a SQL twin
    reproduces the assignment exactly.

    Scale shape: the heavy table shuffles nothing (both passes collapse
    map-side — pass 1 to k Gram rows, pass 2 to k metric rows after a
    broadcast join with the k coefficient rows).  Returns one row per
    fold: (fold, n_train, n_test, intercept, coef_<x1>, coef_<x2>,
    rmse, r2) with test-set metrics — the honest generalization numbers,
    not the train fit."""
    if len(x_cols) != 2:
        raise ValueError("kfold_cv_ols: exactly 2 features")
    x1c, x2c = x_cols
    y = F.col(y_col).cast("double")
    x1 = F.col(x1c).cast("double")
    x2 = F.col(x2c).cast("double")
    fold = F.pmod(F.col(id_col).cast("bigint"), F.lit(int(k)))
    # NULL target/feature rows are excluded (same contract as OLS); the
    # filter must run before BOTH passes so fold sizes and scoring agree
    df = df.filter(y.isNotNull() & x1.isNotNull() & x2.isNotNull())
    dsum = lambda e: F.sum(  # noqa: E731
        F.round(e, 9).cast("decimal(38,12)"))
    from ..io import cut_lineage

    # materialize the k-row Gram frame: it feeds BOTH the totals aggregate
    # and the train-side subtraction — without the cut each branch re-runs
    # the full Gram scan (Spark has no cross-branch plan CSE), making the
    # "one aggregate" claim a three-scan plan
    per_fold = cut_lineage(df.groupBy(fold.alias("fold")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_fn"),
        dsum(x1).alias("_fx1"), dsum(x2).alias("_fx2"),
        dsum(x1 * x1).alias("_f11"), dsum(x1 * x2).alias("_f12"),
        dsum(x2 * x2).alias("_f22"),
        dsum(y).alias("_fy"), dsum(x1 * y).alias("_f1y"),
        dsum(x2 * y).alias("_f2y")))
    tot = per_fold.agg(
        F.sum("_fn").cast("bigint").alias("_tn"),
        *[F.sum(c).alias("_t" + c[2:])
          for c in ("_fx1", "_fx2", "_f11", "_f12", "_f22",
                    "_fy", "_f1y", "_f2y")])
    tr = per_fold.crossJoin(F.broadcast(tot))
    # train-side sums: total minus the held-out fold — DECIMAL subtraction,
    # exact regardless of partitioning; cast to double only for the solve
    d = lambda t, f: (F.col(t) - F.col(f)).cast("double")  # noqa: E731
    n_ = (F.col("_tn") - F.col("_fn")).cast("double")
    sx1, sx2 = d("_tx1", "_fx1"), d("_tx2", "_fx2")
    s11, s12, s22 = d("_t11", "_f11"), d("_t12", "_f12"), d("_t22", "_f22")
    sy, s1y, s2y = d("_ty", "_fy"), d("_t1y", "_f1y"), d("_t2y", "_f2y")
    det = _det3(n_, sx1, sx2, sx1, s11, s12, sx2, s12, s22)
    det0 = _det3(sy, sx1, sx2, s1y, s11, s12, s2y, s12, s22)
    det1 = _det3(n_, sy, sx2, sx1, s1y, s12, sx2, s2y, s22)
    det2 = _det3(n_, sx1, sy, sx1, s11, s1y, sx2, s12, s2y)
    scale = F.greatest(F.abs(n_), F.abs(s11), F.abs(s22), F.lit(1.0))
    ok = F.abs(det) > scale * F.lit(1e-12)
    coefs = tr.select(
        "fold",
        n_.cast("bigint").alias("n_train"),
        F.col("_fn").alias("n_test"),
        # held-out fold's test-y mean from the SAME aggregate — exact
        (F.col("_fy").cast("double") / F.col("_fn").cast("double"))
        .alias("_ybar_test"),
        F.when(ok, F.round(det0 / det, 8)).alias("_b0"),
        F.when(ok, F.round(det1 / det, 8)).alias("_b1"),
        F.when(ok, F.round(det2 / det, 8)).alias("_b2"))
    scored = df.select(fold.alias("fold"), y.alias("_y"),
                       x1.alias("_x1"), x2.alias("_x2")) \
        .join(F.broadcast(coefs), "fold")
    resid = (F.col("_y") - (F.col("_b0") + F.col("_b1") * F.col("_x1")
                            + F.col("_b2") * F.col("_x2")))
    dev = F.col("_y") - F.col("_ybar_test")
    per = scored.groupBy("fold", "n_train", "n_test",
                         "_b0", "_b1", "_b2").agg(
        dsum(resid * resid).cast("double").alias("_sse"),
        dsum(dev * dev).cast("double").alias("_sst"))
    return per.select(
        "fold", "n_train", "n_test",
        F.round(F.col("_b0"), 6).alias("intercept"),
        F.round(F.col("_b1"), 6).alias(f"coef_{x1c}"),
        F.round(F.col("_b2"), 6).alias(f"coef_{x2c}"),
        F.round(F.sqrt(F.col("_sse") / F.col("n_test").cast("double")), 6)
        .alias("rmse"),
        # + 0.0 normalizes IEEE -0.0 (a fold with r2 rounding to -0.000000
        # reprs as -0.0 in engines that keep the sign but 0.0 through
        # Java's BigDecimal — observed at sf0.1); mirrored in the oracle
        F.when(F.col("_sst") > 0,
               F.round(1.0 - F.col("_sse") / F.col("_sst"), 6) + 0.0)
        .alias("r2")).orderBy("fold")


def cuped_adjustment(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, the industry-standard
    A/B-test accelerator): using a pre-experiment covariate x per unit,
    the adjusted metric  y' = y − θ(x − x̄)  with θ = cov(x,y)/var(x)
    keeps the same mean but shrinks variance by the factor (1 − ρ²) —
    the experiment reaches significance  1/(1−ρ²)×  faster.

    ONE map-side-combined aggregate computes n, Σx, Σy, Σx², Σxy, Σy²
    (round-9 decimal-exact sums, partition-order invariant); θ and both
    variances assemble driver-free from those six numbers in a fixed
    IEEE expression order, so a SQL twin reproduces every double
    bit-for-bit.  Sample (n−1) variances.  Returns 1 row:
    (n, theta, corr, var_metric, var_adjusted, variance_reduction_pct)."""
    x = F.col(covariate_col).cast("double")
    y = F.col(metric_col).cast("double")
    dsq = lambda e: F.sum(  # noqa: E731
        F.round(e, 9).cast("decimal(38,12)")).cast("double")
    sums = df.filter(x.isNotNull() & y.isNotNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsq(x).alias("_sx"), dsq(y).alias("_sy"),
        dsq(x * x).alias("_sxx"), dsq(x * y).alias("_sxy"),
        dsq(y * y).alias("_syy"))
    nd = F.col("n").cast("double")
    cov = (F.col("_sxy") - F.col("_sx") * F.col("_sy") / nd) / (nd - 1.0)
    var_x = (F.col("_sxx") - F.col("_sx") * F.col("_sx") / nd) / (nd - 1.0)
    var_y = (F.col("_syy") - F.col("_sy") * F.col("_sy") / nd) / (nd - 1.0)
    theta = F.when(var_x > 0, cov / var_x).otherwise(F.lit(0.0))
    # var(y − θx) = var_y − θ·cov  (since θ = cov/var_x)
    var_adj = var_y - theta * cov
    corr = F.when((var_x > 0) & (var_y > 0),
                  cov / (F.sqrt(var_x) * F.sqrt(var_y)))
    return sums.select(
        "n",
        F.round(theta, 6).alias("theta"),
        F.round(corr, 6).alias("corr"),
        F.round(var_y, 6).alias("var_metric"),
        F.round(var_adj, 6).alias("var_adjusted"),
        F.when(var_y > 0,
               F.round((F.lit(1.0) - var_adj / var_y) * 100.0, 4))
        .alias("variance_reduction_pct"))


def logistic_regression_gd(
    df: DataFrame,
    label_col: str,
    x_cols: list[str],
    iterations: int = 3,
    lr: float = 1.0,
) -> DataFrame:
    """Binary logistic regression by full-batch GRADIENT DESCENT — the
    distributed-ML iteration pattern (one aggregate per step, weights as a
    broadcast 1-row frame, nothing on the driver):

        w⁽ᵗ⁺¹⁾ = w⁽ᵗ⁾ − lr · (1/n) Σᵢ (σ(w·xᵢ) − yᵢ) xᵢ

    Each step is ONE map-side-combined aggregate over the (lineage-cut)
    feature frame with the current weights cross-joined as a broadcast
    1-row literal; gradient components accumulate decimal-exact
    (round 9 dp → DECIMAL(38,12) sums).  Weights round to 12 dp per step
    and σ(z) to 9 dp so the transcendental never decides a hash: both
    engines agree on every operand bit.  Cost = ``iterations`` scans of
    the cached feature projection, zero shuffles (the map-side combine
    collapses every partition to d+1 numbers).

    At 100 TB this is exactly MLlib's LogisticRegression treeAggregate
    shape — per-executor partial gradients, one tiny reduce per epoch.
    Returns 1 row: (n, w0, w_<x1>, w_<x2>, log_loss) with the final
    clamped-σ train loss."""
    if len(x_cols) != 2:
        raise ValueError("logistic_regression_gd: exactly 2 features")
    from ..io import cut_lineage

    x1c, x2c = x_cols
    feat = cut_lineage(df.select(
        F.col(label_col).cast("double").alias("_y"),
        F.col(x1c).cast("double").alias("_x1"),
        F.col(x2c).cast("double").alias("_x2")))
    dsq = lambda e: F.sum(  # noqa: E731
        F.round(e, 9).cast("decimal(38,12)")).cast("double")
    spark = df.sparkSession
    w = spark.range(1).select(
        F.lit(0.0).alias("_w0"), F.lit(0.0).alias("_w1"),
        F.lit(0.0).alias("_w2"))
    for _ in range(iterations):
        z = (F.col("_w0") + F.col("_w1") * F.col("_x1")
             + F.col("_w2") * F.col("_x2"))
        s = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
        err = s - F.col("_y")
        g = feat.crossJoin(F.broadcast(w)).groupBy("_w0", "_w1", "_w2").agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            dsq(err).alias("_g0"),
            dsq(err * F.col("_x1")).alias("_g1"),
            dsq(err * F.col("_x2")).alias("_g2"))
        w = g.select(
            F.round(F.col("_w0") - lr * F.col("_g0") / F.col("_n"), 12)
            .alias("_w0"),
            F.round(F.col("_w1") - lr * F.col("_g1") / F.col("_n"), 12)
            .alias("_w1"),
            F.round(F.col("_w2") - lr * F.col("_g2") / F.col("_n"), 12)
            .alias("_w2"))
    zf = (F.col("_w0") + F.col("_w1") * F.col("_x1")
          + F.col("_w2") * F.col("_x2"))
    sf_ = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zf)), 9)
    sc = F.least(F.greatest(sf_, F.lit(1e-9)), F.lit(1.0 - 1e-9))
    ll_term = -(F.col("_y") * F.log(sc)
                + (F.lit(1.0) - F.col("_y")) * F.log(F.lit(1.0) - sc))
    out = feat.crossJoin(F.broadcast(w)).groupBy("_w0", "_w1", "_w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsq(ll_term).alias("_sll"))
    return out.select(
        "n",
        F.round(F.col("_w0"), 6).alias("w0"),
        F.round(F.col("_w1"), 6).alias(f"w_{x1c}"),
        F.round(F.col("_w2"), 6).alias(f"w_{x2c}"),
        F.round(F.col("_sll") / F.col("n"), 6).alias("log_loss"))


_SQRT_2PI = 2.5066282746310002  # shared literal with the SQL twin


def gmm_em_1d(
    df: DataFrame,
    value_col: str,
    iterations: int = 2,
    init: tuple = (0.5, 4.0, 1.0, 1.0, 0.5),
) -> DataFrame:
    """Two-component 1-D Gaussian mixture by EM — the distributed
    unsupervised-fit pattern on top of :func:`logistic_regression_gd`'s
    machinery: parameters live in a broadcast 1-row frame, each EM round
    is ONE map-side-combined aggregate over the lineage-cut value frame
    (responsibilities never materialize), so at 100 TB this is the MLlib
    treeAggregate shape with 5 numbers per partition per round.

    Determinism contract (both engines bit-agree): responsibilities and
    every summed term round to 9 dp into DECIMAL(38,12) sums; component-2
    statistics derive by EXACT decimal subtraction (Σ(1−r)x = Σx − Σrx, no
    second pass); parameters round to 12 dp per round; φ and all
    assemblies use a fixed IEEE expansion order with √(2π) as a shared
    literal.  ``init`` = (μ₁, μ₂, σ₁, σ₂, π₁) — data-independent by design
    so the unrolled SQL twin starts identically.  Returns 1 row:
    (n, pi1, mu1, sigma1, mu2, sigma2, avg_loglik)."""
    from ..io import cut_lineage

    feat = cut_lineage(df.select(F.col(value_col).cast("double").alias("_x")))
    dec = lambda e: F.sum(  # noqa: E731
        F.round(e, 9).cast("decimal(38,12)"))
    spark = df.sparkSession
    w = spark.range(1).select(
        F.lit(float(init[0])).alias("_mu1"), F.lit(float(init[1])).alias("_mu2"),
        F.lit(float(init[2])).alias("_s1"), F.lit(float(init[3])).alias("_s2"),
        F.lit(float(init[4])).alias("_p1"))

    def _phi(m, s):
        x = F.col("_x")
        return (F.exp(-((x - F.col(m)) * (x - F.col(m)))
                      / (F.lit(2.0) * F.col(s) * F.col(s)))
                / (F.col(s) * F.lit(_SQRT_2PI)))

    def _lik():
        l1 = F.col("_p1") * _phi("_mu1", "_s1")
        l2 = (F.lit(1.0) - F.col("_p1")) * _phi("_mu2", "_s2")
        return l1, l2

    wcols = ["_mu1", "_mu2", "_s1", "_s2", "_p1"]
    for _ in range(iterations):
        l1, l2 = _lik()
        r = F.when(l1 + l2 > 0, F.round(l1 / (l1 + l2), 9)) \
            .otherwise(F.lit(0.5))
        x = F.col("_x")
        g = (feat.crossJoin(F.broadcast(w)).groupBy(*wcols)
             .agg(F.count(F.lit(1)).cast("decimal(38,12)").alias("_nn"),
                  dec(r).alias("_sr"), dec(r * x).alias("_srx"),
                  dec(r * x * x).alias("_srxx"),
                  dec(x).alias("_sx"), dec(x * x).alias("_sxx")))
        dbl = lambda c: c.cast("double")  # noqa: E731
        m = g.select(
            "_nn", "_sr", "_srx", "_srxx", "_sx", "_sxx",
            F.round(dbl(F.col("_srx")) / dbl(F.col("_sr")), 12).alias("_mu1"),
            F.round(dbl(F.col("_sx") - F.col("_srx"))
                    / dbl(F.col("_nn") - F.col("_sr")), 12).alias("_mu2"),
            F.round(dbl(F.col("_sr")) / dbl(F.col("_nn")), 12).alias("_p1"))
        w = m.select(
            "_mu1", "_mu2", "_p1",
            F.round(F.sqrt(F.greatest(
                dbl(F.col("_srxx")) / dbl(F.col("_sr"))
                - F.col("_mu1") * F.col("_mu1"), F.lit(1e-12))), 12)
            .alias("_s1"),
            F.round(F.sqrt(F.greatest(
                dbl(F.col("_sxx") - F.col("_srxx"))
                / dbl(F.col("_nn") - F.col("_sr"))
                - F.col("_mu2") * F.col("_mu2"), F.lit(1e-12))), 12)
            .alias("_s2"))
    l1, l2 = _lik()
    ll = F.round(F.log(F.greatest(l1 + l2, F.lit(1e-300))), 9)
    out = (feat.crossJoin(F.broadcast(w)).groupBy(*wcols)
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.round(ll, 9).cast("decimal(38,12)"))
                .cast("double").alias("_sll")))
    return out.select(
        "n", F.round(F.col("_p1"), 6).alias("pi1"),
        F.round(F.col("_mu1"), 6).alias("mu1"),
        F.round(F.col("_s1"), 6).alias("sigma1"),
        F.round(F.col("_mu2"), 6).alias("mu2"),
        F.round(F.col("_s2"), 6).alias("sigma2"),
        F.round(F.col("_sll") / F.col("n").cast("double"), 6)
        .alias("avg_loglik"))


def ndcg_at_k(
    df: DataFrame,
    query_col: str,
    score_col: str,
    rel_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """NDCG@k and MRR@k per query group — the ranking-quality metrics a
    recommender/search eval needs beyond AUC/AP (graded relevance,
    position discounting).  DCG = Σ_{i≤k} (2^rel−1)/log2(i+1) over the
    score-ranked list (unique-id tie-break); IDCG re-ranks by relevance
    itself (best possible ordering); NDCG = DCG/IDCG (0 when the query
    has no relevant items); MRR = 1/rank of the first relevant item.

    Per-term values round to 9dp into decimal-exact sums so both engines
    agree.  Plan: two windows over the same (query) partitioning (Catalyst
    shares the exchange) + one query-keyed aggregate — shuffle is the
    query key only.  Returns (query, n_items, dcg, idcg, ndcg, mrr)."""
    from pyspark.sql.window import Window as _W

    q, s, r, i = (F.col(query_col), F.col(score_col), F.col(rel_col),
                  F.col(id_col))
    base = df.select(q.alias("_q"), s.alias("_s"),
                     r.cast("double").alias("_r"), i.alias("_i"))
    by_score = _W.partitionBy("_q").orderBy(F.col("_s").desc(),
                                            F.col("_i"))
    by_rel = _W.partitionBy("_q").orderBy(F.col("_r").desc(), F.col("_i"))
    ranked = base.select(
        "_q", "_r",
        F.row_number().over(by_score).alias("_rk"),
        F.row_number().over(by_rel).alias("_irk"))
    gain = F.pow(F.lit(2.0), F.col("_r")) - F.lit(1.0)
    d9 = lambda e: F.round(e, 9).cast("decimal(38,12)")  # noqa: E731
    dcg_t = F.when(F.col("_rk") <= k,
                   d9(gain / F.log2(F.col("_rk").cast("double") + 1.0))) \
        .otherwise(F.lit(0).cast("decimal(38,12)"))
    idcg_t = F.when(F.col("_irk") <= k,
                    d9(gain / F.log2(F.col("_irk").cast("double") + 1.0))) \
        .otherwise(F.lit(0).cast("decimal(38,12)"))
    agg = (ranked.groupBy(F.col("_q").alias(query_col))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_items"),
                F.sum(dcg_t).cast("double").alias("_dcg"),
                F.sum(idcg_t).cast("double").alias("_idcg"),
                F.min(F.when((F.col("_r") > 0) & (F.col("_rk") <= k),
                             F.col("_rk"))).alias("_fr")))
    return agg.select(
        query_col, "n_items",
        F.round(F.col("_dcg"), 6).alias("dcg"),
        F.round(F.col("_idcg"), 6).alias("idcg"),
        F.round(F.when(F.col("_idcg") > 0,
                       F.col("_dcg") / F.col("_idcg"))
                .otherwise(F.lit(0.0)), 6).alias("ndcg"),
        F.round(F.when(F.col("_fr").isNotNull(),
                       F.lit(1.0) / F.col("_fr").cast("double"))
                .otherwise(F.lit(0.0)), 6).alias("mrr"))


def _split_cast(c: Column) -> Column:
    """DECIMAL → DOUBLE that both engines compute bit-identically even
    past 2^53: cast the integer part and the sub-1 fraction separately
    (each cast is a single correctly-rounded operation at its magnitude)
    and add once in IEEE double.  A straight decimal(38,s)→double cast of
    a >2^53 scaled value is implementation-defined (hugeint paths double-
    round) — the regression-stump divergence.  Bit-exact while the
    integer part stays under 2^53 (~9·10¹⁵ — covers the bench SFs with
    wide margin); beyond that only the fraction-free hugeint conversion
    remains exposed (document per-operator envelopes).

    The fraction is extracted with ``% 1``, NOT ``c − floor(c)``:
    Spark's decimal-subtraction precision-loss rule truncates a
    (38,12)−(38,0) result to scale 6 (MINIMUM_ADJUSTED_SCALE), silently
    destroying fraction digits 7–12 (caught by Nelson-Aalen's small
    hazards); ``%`` keeps the dividend's scale without overflowing
    precision.  Sign is handled on the magnitude (IEEE negation is
    exact and symmetric, so the result still bit-matches the oracle's
    FLOOR-subtract form)."""
    a = F.abs(c)
    i = F.floor(a).cast("decimal(38,0)")
    val = i.cast("double") + (a % F.lit(1)).cast("double")
    return F.when(c < 0, -val).otherwise(val)


def _prefix_sums(
    grid: DataFrame,
    v_col: str,
    sums: list,
    inclusive: bool = False,
    descending: bool = False,
) -> DataFrame:
    """Range-partitioned prefix sums over a sorted grid — the skyline
    recipe (tables.skyline_2d, r7 verdict item 4) generalized from min
    to sum: an unpartitioned ``SUM() OVER (ORDER BY v)`` serializes the
    whole grid through one task; instead repartitionByRange on v, run
    the per-partition window (parallel), and fold in the broadcast
    prefix-total of all EARLIER range partitions (a P-row frame — the
    only serial window left is over the parallelism constant).

    ``sums`` is a list of (count_col, out_col) or (count_col, out_col,
    out_type — default decimal(38,0)); each out_col is the exclusive
    (or inclusive) prefix sum of count_col in v-order (descending when
    ``descending``).  Exact decimal/integer arithmetic — bit-identical
    to the single-window plan, so DuckDB oracles mirroring a plain
    window need no change."""
    from pyspark.sql.window import Window as _W

    from ..io import cut_lineage

    sums = [(s[0], s[1], s[2] if len(s) > 2 else "decimal(38,0)")
            for s in sums]
    order = F.col(v_col).desc() if descending else F.col(v_col)
    p = grid.sparkSession.sparkContext.defaultParallelism
    tagged = cut_lineage(
        grid.repartitionByRange(p, order)
        .withColumn("_pp", F.spark_partition_id()))
    end = 0 if inclusive else -1
    w_loc = (_W.partitionBy("_pp").orderBy(order)
             .rowsBetween(_W.unboundedPreceding, end))
    local = tagged
    for cnt, out, ty in sums:
        local = local.withColumn(
            out + "_l",
            F.coalesce(F.sum(cnt).over(w_loc), F.lit(0).cast(ty)))
    wb = _W.orderBy("_pp").rowsBetween(_W.unboundedPreceding, -1)
    prefix = tagged.groupBy("_pp").agg(
        *[F.sum(cnt).alias(out + "_p") for cnt, out, _ in sums])
    prefix = prefix.select(
        "_pp", *[F.coalesce(F.sum(out + "_p").over(wb),
                            F.lit(0).cast(ty)).alias(out + "_b")
                 for _, out, ty in sums])
    joined = local.join(F.broadcast(prefix), "_pp")
    for _, out, ty in sums:
        joined = joined.withColumn(
            out, (F.col(out + "_l") + F.col(out + "_b")).cast(ty))
    drop = ["_pp"] + [out + s for _, out, _ in sums for s in ("_l", "_b")]
    return joined.drop(*drop)


def _prefix_min(
    grid: DataFrame,
    v_col: str,
    value_col: str,
    out_col: str,
    descending: bool = False,
) -> DataFrame:
    """Range-partitioned INCLUSIVE running minimum of ``value_col`` in
    ``v_col`` order — the :func:`_prefix_sums` architecture with MIN as
    the fold (min is associative, so the per-partition window + the
    broadcast prefix-min of earlier range partitions compose exactly):
    bit-identical to an unpartitioned ``MIN() OVER (ORDER BY v ROWS
    UNBOUNDED PRECEDING)``, without serializing the grid through one
    task.  Used by BH-FDR's step-up (suffix min over ascending p ==
    prefix min over descending p)."""
    from pyspark.sql.window import Window as _W

    from ..io import cut_lineage

    order = F.col(v_col).desc() if descending else F.col(v_col)
    p = grid.sparkSession.sparkContext.defaultParallelism
    tagged = cut_lineage(
        grid.repartitionByRange(p, order)
        .withColumn("_pp", F.spark_partition_id()))
    w_loc = (_W.partitionBy("_pp").orderBy(order)
             .rowsBetween(_W.unboundedPreceding, 0))
    local = tagged.withColumn("_min_l", F.min(value_col).over(w_loc))
    wb = _W.orderBy("_pp").rowsBetween(_W.unboundedPreceding, -1)
    prefix = (tagged.groupBy("_pp")
              .agg(F.min(value_col).alias("_min_p"))
              .select("_pp", F.min("_min_p").over(wb).alias("_min_b")))
    joined = local.join(F.broadcast(prefix), "_pp")
    return (joined.withColumn(
        out_col,
        F.when(F.col("_min_b").isNull(), F.col("_min_l"))
        .otherwise(F.least(F.col("_min_l"), F.col("_min_b"))))
        .drop("_pp", "_min_l", "_min_b"))


def _prefix_last(
    grid: DataFrame,
    order_exprs: list,
    value_col: str,
    out_col: str,
) -> DataFrame:
    """Range-partitioned running LAST-non-NULL of ``value_col`` over rows
    sorted by ``order_exprs`` — the merge-scan carry under as-of-style
    lookups, same recipe as :func:`_prefix_sums` (per-partition window
    keyed by partition id + a P-row boundary fold; no unpartitioned
    window over the data).  ``order_exprs`` are Column sort expressions
    (e.g. ``[F.col("k").desc(), F.col("tie")]``)."""
    from pyspark.sql.window import Window as _W

    from ..io import cut_lineage

    p = grid.sparkSession.sparkContext.defaultParallelism
    tagged = cut_lineage(
        grid.repartitionByRange(p, *order_exprs)
        .withColumn("_pp", F.spark_partition_id()))
    w_loc = (_W.partitionBy("_pp").orderBy(*order_exprs)
             .rowsBetween(_W.unboundedPreceding, 0))
    local = tagged.withColumn(
        "_ll", F.last(value_col, ignorenulls=True).over(w_loc))
    # each partition's FINAL carry = the last row's running value
    w_all = (_W.partitionBy("_pp").orderBy(*order_exprs)
             .rowsBetween(_W.unboundedPreceding, _W.unboundedFollowing))
    plast = (tagged.withColumn(
        "_pl", F.last(value_col, ignorenulls=True).over(w_all))
        .groupBy("_pp").agg(F.first("_pl").alias("_pl")))
    wb = _W.orderBy("_pp").rowsBetween(_W.unboundedPreceding, -1)
    boundary = plast.select(
        "_pp", F.last("_pl", ignorenulls=True).over(wb).alias("_bb"))
    out = (local.join(F.broadcast(boundary), "_pp")
           .withColumn(out_col, F.coalesce(F.col("_ll"), F.col("_bb")))
           .drop("_pp", "_ll", "_bb"))
    return out


def _erfc_as(x: Column) -> Column:
    """erfc(x) for x >= 0 via Abramowitz & Stegun 7.1.26 (|err| < 1.5e-7):
    fixed-order IEEE polynomial + one exp — the only transcendental, same
    closed form mirrored into the DuckDB oracles (the KS p-value recipe)."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = ((((F.lit(1.061405429) * t - F.lit(1.453152027)) * t
              + F.lit(1.421413741)) * t - F.lit(0.284496736)) * t
            + F.lit(0.254829592)) * t
    return poly * F.exp(-x * x)


def mann_whitney_u(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
) -> DataFrame:
    """Mann-Whitney U rank-sum test (the nonparametric location companion
    to :func:`ks_statistic` — "did the median shift?" without normality).

    Scale design: both samples collapse to ONE row per DISTINCT value with
    per-sample counts; midranks over the sorted grid are kept EXACT by
    doubling (2·rank is always integer: 2·prev + t + 1), so the rank sum
    R₁, U₁ = R₁ − n₁(n₁+1)/2, and the tie correction T = Σ(t³−t) are all
    exact DECIMAL(38,0) algebra — no float ever decides them.  Only the
    terminal z = (U₁ − n₁n₂/2)/σ (tie-corrected σ² = n₁n₂/12·((n+1) −
    T/(n(n−1)))) and the two-sided normal p = erfc(|z|/√2) are floating
    point (A&S erfc, no continuity correction — contract documented).
    Cliff's δ = (#(ref>cur) − #(ref<cur))/(n₁n₂) = (2U₁ − n₁n₂)/(n₁n₂)
    falls out of the same exact algebra (ties cancel) — the
    sample-size-free ordinal effect size alongside the p-value.
    The midrank prefix runs as the range-partitioned :func:`_prefix_sums`
    (no unpartitioned window even for a near-unique value grid).
    Returns one row: (n_ref, n_cur, u_ref, u_cur, z, p_value,
    cliffs_delta)."""
    v = F.col(value_col).cast("decimal(38,6)")
    tagged = (ref.select(v.alias("_v"), F.lit(1).alias("_r"))
              .unionByName(cur.select(v.alias("_v"), F.lit(0).alias("_r")))
              .filter(F.col("_v").isNotNull()))
    per_v = tagged.groupBy("_v").agg(
        F.sum("_r").cast("decimal(38,0)").alias("_c1"),
        F.sum(1 - F.col("_r")).cast("decimal(38,0)").alias("_c2"))
    t_ = (F.col("_c1") + F.col("_c2"))
    grid = _prefix_sums(per_v.withColumn("_t", t_.cast("decimal(38,0)")),
                        "_v", [("_t", "_prev")]) \
        .select("_c1", "_c2", "_t", "_prev")
    # 2·midrank of every tied row at this value (exact integer)
    rank2 = F.lit(2) * F.col("_prev") + F.col("_t") + F.lit(1)
    agg = grid.agg(
        F.sum("_c1").cast("decimal(38,0)").alias("_n1"),
        F.sum("_c2").cast("decimal(38,0)").alias("_n2"),
        F.sum(F.col("_c1") * rank2).cast("decimal(38,0)").alias("_r1x2"),
        F.sum(F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t"))
        .cast("decimal(38,0)").alias("_tcorr"))
    n1, n2 = F.col("_n1"), F.col("_n2")
    n = n1 + n2
    # doubled exact numerator: 2·(U1 − n1·n2/2) = (R1x2 − 2·n1(n1+1)/2) − n1·n2
    u1x2 = F.col("_r1x2") - n1 * (n1 + F.lit(1))
    numx2 = u1x2 - n1 * n2
    n1d, n2d, nd = (n1.cast("double"), n2.cast("double"), n.cast("double"))
    sigma2 = (n1d * n2d / F.lit(12.0)
              * ((nd + F.lit(1.0))
                 - F.col("_tcorr").cast("double") / (nd * (nd - F.lit(1.0)))))
    z = numx2.cast("double") / (F.lit(2.0) * F.sqrt(sigma2))
    p = _erfc_as(F.abs(z) / F.sqrt(F.lit(2.0)))
    return agg.select(
        n1.cast("bigint").alias("n_ref"),
        n2.cast("bigint").alias("n_cur"),
        (u1x2.cast("double") / F.lit(2.0)).alias("u_ref"),
        ((n1 * n2).cast("double") - u1x2.cast("double") / F.lit(2.0))
        .alias("u_cur"),
        F.round(z, 6).alias("z"),
        F.round(F.least(p, F.lit(1.0)), 6).alias("p_value"),
        F.round(numx2.cast("double") / (n1 * n2).cast("double"), 6)
        .alias("cliffs_delta"))


def cramer_von_mises(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
) -> DataFrame:
    """Cramér-von Mises two-sample test — the integrated-squared-ECDF
    companion to :func:`ks_statistic` (KS reacts to the single largest
    gap; CvM accumulates EVERY gap, so it catches broad shape drift a
    one-point KS misses):

        T = m·n/N² · Σ over pooled points (F_m(x) − G_n(x))²

    Scale design (the :func:`mann_whitney_u` recipe): both samples
    collapse to ONE row per DISTINCT value with per-sample counts;
    inclusive cumulative counts come from the range-partitioned
    :func:`_prefix_sums` (no unpartitioned window); per-value
    d = n·C1 − m·C2 and the statistic core S = Σ t·d² are EXACT
    decimal(38,0) integer algebra — T = S/(N²·m·n) only becomes a
    double at the very end, via a two-piece 10¹⁵ split of S (each piece
    < 2⁵³ casts exactly; one fixed-order IEEE multiply-add per engine),
    so both engines produce bit-identical doubles.  Decision flags test
    the EXACT integer inequality 1000·S ≷ c·N²mn against the limiting
    ω² critical values (c = 347/461/743 at 10/5/1% — Anderson &
    Darling 1952), so no float ever decides a rejection.

    Magnitude envelope: S ≤ N·(m·n)² must stay under 10³⁴ (the flag
    product re-cast) — safe to ~10⁷ pooled rows; past that,
    pre-quantize the value (coarser cast) or pre-aggregate, like the
    other exact-decimal stats.  Returns one row: (n_ref, n_cur, t_stat,
    t_expected, reject_10, reject_05, reject_01)."""
    v = F.col(value_col).cast("decimal(38,6)")
    tagged = (ref.select(v.alias("_v"), F.lit(1).alias("_r"))
              .unionByName(cur.select(v.alias("_v"), F.lit(0).alias("_r")))
              .filter(F.col("_v").isNotNull()))
    per_v = tagged.groupBy("_v").agg(
        F.sum("_r").cast("decimal(38,0)").alias("_c1"),
        F.sum(1 - F.col("_r")).cast("decimal(38,0)").alias("_c2"))
    # r12: sample totals are the inclusive prefix grid's maxima (exactly
    # Σ_c1/Σ_c2 — same decimal sums of the same counts), read off the
    # checkpointed grid instead of re-aggregating per_v, which re-ran
    # the two-table union scan.
    cums = _prefix_sums(per_v, "_v", [("_c1", "_cum1"), ("_c2", "_cum2")],
                        inclusive=True)
    totals = cums.agg(
        F.max("_cum1").cast("decimal(18,0)").alias("_m"),
        F.max("_cum2").cast("decimal(18,0)").alias("_n"))
    grid = cums.crossJoin(F.broadcast(totals))
    # staged casts keep every decimal product inside BOTH engines'
    # 38-digit exact-arithmetic window (DuckDB silently promotes past
    # 38 combined digits to double — the exact-products gotcha)
    d = (F.col("_n") * F.col("_cum1").cast("decimal(18,0)")
         - F.col("_m") * F.col("_cum2").cast("decimal(18,0)")
         ).cast("decimal(19,0)")
    d2 = (d * d).cast("decimal(26,0)")
    t_ = (F.col("_c1") + F.col("_c2")).cast("decimal(12,0)")
    agg = grid.agg(
        F.max("_m").alias("_m"), F.max("_n").alias("_n"),
        F.sum(t_ * d2).cast("decimal(38,0)").alias("_s"))
    m, n = F.col("_m"), F.col("_n")
    n2 = ((m + n) * (m + n)).cast("decimal(14,0)")
    mn = (m * n).cast("decimal(13,0)")
    big_d = (n2 * mn).cast("decimal(25,0)")
    s34 = F.col("_s").cast("decimal(34,0)")
    thousand = F.lit(1000).cast("decimal(4,0)")
    # two-piece split of S: lo < 10^15 < 2^53 always casts exactly; hi is
    # exact only while S < 2^53*10^15 (~9e30) — within the documented
    # S < 1e34 envelope hi can reach ~1e19 > 2^53, where BOTH engines
    # round the same integer to the same nearest double (bit-identical
    # cross-engine, just no longer exact).  The hi*1e15+lo recombination
    # and the (N*N)*(m*n) denominator are fixed-order single-rounding
    # IEEE ops, identical across engines either way; the 6-dp-rounded
    # t_stat is unaffected.
    split = F.lit(10 ** 15).cast("decimal(16,0)")
    hi = ((F.col("_s") - F.col("_s") % split) / split).cast("decimal(20,0)")
    lo = F.col("_s") % split
    nd, md, n_d = ((m + n).cast("double"), m.cast("double"), n.cast("double"))
    num = hi.cast("double") * F.lit(1.0e15) + lo.cast("double")
    den = (nd * nd) * (md * n_d)
    t_stat = num / den
    return agg.select(
        m.cast("bigint").alias("n_ref"),
        n.cast("bigint").alias("n_cur"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round((F.lit(1.0) + F.lit(1.0) / nd) / F.lit(6.0), 6)
        .alias("t_expected"),
        (s34 * thousand > F.lit(347).cast("decimal(4,0)") * big_d)
        .alias("reject_10"),
        (s34 * thousand > F.lit(461).cast("decimal(4,0)") * big_d)
        .alias("reject_05"),
        (s34 * thousand > F.lit(743).cast("decimal(4,0)") * big_d)
        .alias("reject_01"))


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    value_scale: int = 2,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test — the parametric A/B
    companion to :func:`bootstrap_ab_diff` (closed form, no resamples).

    Scale design: ONE conditional-aggregation pass computes per-group
    (n, Σx, Σx²) as EXACT decimal sums at the values' natural scale
    (2-dp currency → Σx exact at scale 2, Σx² at scale 4; callers with
    finer values pre-round); variance = (Σx² − (Σx)²/n)/(n−1) and
    t = (m_a−m_b)/√(v_a/n_a + v_b/n_b) with the Welch–Satterthwaite df
    are terminal fixed-order doubles.  The Σx² sums exceed 2^53, where
    a straight decimal→double cast is implementation-defined (engines
    drift ulps — the regression-stump lesson); :func:`_split_cast`
    converts via exactly-castable integer + fraction parts instead, so
    both engines see bit-identical doubles.

    Quantization + magnitude contract (r8 ADVICE): values are rounded
    to ``value_scale`` decimal places (default 2 — the currency grid)
    before summing; finer-scale metrics (sub-cent rates, second-level
    latencies) must pass a larger ``value_scale``.  The decimal(18,s)
    sufficient statistics hold |x| < 10^(18−s) (~1e16 at the default);
    beyond that the cast overflows to NULL under non-ANSI Spark and the
    row silently leaves the sums — keep magnitudes inside the envelope
    or lower ``value_scale``.  Degenerate contract: a single-row group
    (n=1) has no variance — var/t/df are NULL, not ±Inf; identical
    constant groups (zero pooled SE) make t/df NULL.  Returns one row:
    (n_a, n_b, mean_a, mean_b, var_a, var_b, t_stat, df)."""
    s = value_scale
    x = F.col(value_col).cast("double")
    xd = F.round(x, s).cast(f"decimal(18,{s})")
    xsq = (xd * xd).cast(f"decimal(38,{2 * s})")  # exact decimal square
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    base = df.filter((in_a | in_b) & F.col(value_col).isNotNull())
    agg = base.agg(
        F.sum(F.when(in_a, 1).otherwise(0)).cast("bigint").alias("_na"),
        F.sum(F.when(in_b, 1).otherwise(0)).cast("bigint").alias("_nb"),
        F.sum(F.when(in_a, xd).otherwise(F.lit(0).cast(f"decimal(18,{s})")))
        .cast(f"decimal(38,{s})").alias("_sa"),
        F.sum(F.when(in_b, xd).otherwise(F.lit(0).cast(f"decimal(18,{s})")))
        .cast(f"decimal(38,{s})").alias("_sb"),
        F.sum(F.when(in_a, xsq)
              .otherwise(F.lit(0).cast(f"decimal(38,{2 * s})"))).alias("_qa"),
        F.sum(F.when(in_b, xsq)
              .otherwise(F.lit(0).cast(f"decimal(38,{2 * s})"))).alias("_qb"))
    nad, nbd = F.col("_na").cast("double"), F.col("_nb").cast("double")
    sa, sb = _split_cast(F.col("_sa")), _split_cast(F.col("_sb"))
    qa, qb = _split_cast(F.col("_qa")), _split_cast(F.col("_qb"))
    # empty group -> mean undefined -> NULL (ANSI: bare /0 would throw)
    ma = F.when(F.col("_na") > 0, sa / nad)
    mb = F.when(F.col("_nb") > 0, sb / nbd)
    # n=1 group -> variance undefined -> NULL (propagates to t/df)
    va = F.when(F.col("_na") > 1,
                (qa - sa * sa / nad) / (nad - F.lit(1.0)))
    vb = F.when(F.col("_nb") > 1,
                (qb - sb * sb / nbd) / (nbd - F.lit(1.0)))
    sea, seb = va / nad, vb / nbd
    # zero pooled SE (two identical constant groups) -> t/df NULL, not Inf
    tstat = F.when(sea + seb > 0, (ma - mb) / F.sqrt(sea + seb))
    dfw_den = (sea * sea / (nad - F.lit(1.0))
               + seb * seb / (nbd - F.lit(1.0)))
    dfw = F.when(dfw_den > 0, (sea + seb) * (sea + seb) / dfw_den)
    return agg.select(
        F.col("_na").alias("n_a"), F.col("_nb").alias("n_b"),
        F.round(ma, 6).alias("mean_a"), F.round(mb, 6).alias("mean_b"),
        F.round(va, 6).alias("var_a"), F.round(vb, 6).alias("var_b"),
        F.round(tstat, 6).alias("t_stat"), F.round(dfw, 6).alias("df"))


def spearman_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation (tie-corrected, via Pearson on midranks)
    — the monotonic-association metric the linear `table.corr_matrix`
    can't see.

    Scale design: midranks are assigned on each column's DISTINCT-value
    grid (2·midrank = 2·prev + t + 1 is always integer, so ranks are
    EXACT), joined back to rows by value (two value-keyed shuffles — the
    grid side is the distinct frame, tiny after aggregation), and the
    Pearson sufficient statistics over doubled ranks are exact
    DECIMAL(38,0) sums; the doubling cancels in ρ.  Only the terminal
    ratio/√ is floating point.  Each midrank prefix runs as the range-
    partitioned :func:`_prefix_sums` (near-unique grids never serialize
    through one window task).  Returns (n, rho).

    r12: the narrow (x, y) projection is materialized once — it feeds
    BOTH rank grids and the rank join, so the un-cut plan re-ran the
    full table scan three times; the checkpoint trades one write of two
    decimal columns for two of those scans (the conformal/persist-narrow
    pattern)."""
    from ..io import cut_lineage

    base = cut_lineage(
        df.select(F.col(x_col).cast("decimal(38,6)").alias("_x"),
                  F.col(y_col).cast("decimal(38,6)").alias("_y"))
        .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull()))

    def rank2_grid(col: str, out: str):
        per_v = base.groupBy(col).agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("_t"))
        pre = _prefix_sums(per_v, col, [("_t", "_prev")])
        return pre.select(
            col,
            (F.lit(2) * F.col("_prev") + F.col("_t") + F.lit(1))
            .alias(out))

    ranked = (base
              .join(rank2_grid("_x", "_rx"), "_x")
              .join(rank2_grid("_y", "_ry"), "_y"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum("_rx").cast("decimal(38,0)").alias("_sx"),
        F.sum("_ry").cast("decimal(38,0)").alias("_sy"),
        F.sum(F.col("_rx") * F.col("_rx")).cast("decimal(38,0)").alias("_sxx"),
        F.sum(F.col("_ry") * F.col("_ry")).cast("decimal(38,0)").alias("_syy"),
        F.sum(F.col("_rx") * F.col("_ry")).cast("decimal(38,0)").alias("_sxy"))
    n = F.col("_n")
    cov = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    vx = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    vy = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    return agg.select(
        n.cast("bigint").alias("n"),
        F.round(F.when((vx > 0) & (vy > 0),
                       cov / F.sqrt(vx) / F.sqrt(vy)), 6).alias("rho"))


def crosstab_association(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Categorical-association profile between two columns: Pearson χ²,
    Cramér's V (bias-uncorrected), and mutual information in nats — the
    feature-redundancy / leakage screen one_hot + corr_matrix can't do.

    Scale design: ONE (a,b) hash aggregate over the table; margins are
    rollups OF THE CELL FRAME (already tiny) broadcast back by key.  Zero
    cells contribute only their expected count, folded in algebraically:
    χ² = Σ_obs[(o−e)²/e − e] + n, so no dense grid is materialized.
    Per-cell χ²/MI terms are exact-integer-derived doubles rounded 9 dp
    into decimal sums (partition-order invariant); ln is the only
    transcendental.  Returns (n, card_a, card_b, dof, chi2, cramers_v,
    mutual_info)."""
    cells = (df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
             .groupBy(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
             .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_o")))
    ma = cells.groupBy("_a").agg(F.sum("_o").cast("decimal(38,0)")
                                 .alias("_na"))
    mb = cells.groupBy("_b").agg(F.sum("_o").cast("decimal(38,0)")
                                 .alias("_nb"))
    tot = cells.agg(F.sum("_o").cast("decimal(38,0)").alias("_n"),
                    F.countDistinct("_a").cast("bigint").alias("_ca"),
                    F.countDistinct("_b").cast("bigint").alias("_cb"))
    joined = (cells.join(F.broadcast(ma), "_a")
              .join(F.broadcast(mb), "_b")
              .crossJoin(F.broadcast(tot)))
    o = F.col("_o").cast("double")
    e = (F.col("_na") * F.col("_nb")).cast("double") / F.col("_n").cast("double")
    d9 = lambda x: F.round(x, 9).cast("decimal(38,12)")  # noqa: E731
    chi_term = d9((o - e) * (o - e) / e - e)
    mi_term = d9(o / F.col("_n").cast("double")
                 * F.log((F.col("_o") * F.col("_n")).cast("double")
                         / (F.col("_na") * F.col("_nb")).cast("double")))
    agg = joined.groupBy("_n", "_ca", "_cb").agg(
        F.sum(chi_term).cast("double").alias("_chi_adj"),
        F.sum(mi_term).cast("double").alias("_mi"))
    nd = F.col("_n").cast("double")
    chi2 = F.col("_chi_adj") + nd
    dof = (F.col("_ca") - 1) * (F.col("_cb") - 1)
    vmin = F.least(F.col("_ca"), F.col("_cb")).cast("double") - F.lit(1.0)
    return agg.select(
        F.col("_n").cast("bigint").alias("n"),
        F.col("_ca").alias("card_a"), F.col("_cb").alias("card_b"),
        dof.cast("bigint").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(F.when(vmin > 0, F.sqrt(F.greatest(chi2, F.lit(0.0))
                                        / (nd * vmin)))
                .otherwise(F.lit(0.0)), 6).alias("cramers_v"),
        F.round(F.greatest(F.col("_mi"), F.lit(0.0)), 6).alias("mutual_info"))


def chi2_gof_bh(
    df: DataFrame,
    group_col: str,
    cat_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Per-group χ² goodness-of-fit vs the POOLED category distribution,
    with Benjamini–Hochberg FDR adjustment across groups — the multiple-
    testing-safe "which segments deviate?" screen (running m raw tests at
    α inflates false positives; BH controls the false-discovery rate).

    Scale design: ONE (group, cat) aggregate; expected counts come from
    the two margin rollups of the cell frame (broadcast back).  Zero
    cells fold in algebraically (χ²_g = Σ_obs[(o−e)²/e − e] + n_g).  The
    upper-tail p-value uses the EXACT even-df closed form
    Q(x) = e^{−x/2}·Σ_{i<df/2}(x/2)^i/i! evaluated as an in-plan
    `aggregate(sequence(...))` fold (NULL for odd df — documented; the
    category count fixes the parity).  BH: rank p ascending, adjusted
    p = min_{j≥rank}(p_j·m/j) as a reverse running-min window over the m
    group rows (bounded by group cardinality — the B-row bootstrap-window
    class).  Returns per group: (group, n, chi2, dof, p_value,
    p_adjusted, significant)."""
    from pyspark.sql.window import Window

    cells = (df.filter(F.col(group_col).isNotNull()
                       & F.col(cat_col).isNotNull())
             .groupBy(F.col(group_col).alias("_g"),
                      F.col(cat_col).alias("_c"))
             .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_o")))
    mg = cells.groupBy("_g").agg(F.sum("_o").cast("decimal(38,0)")
                                 .alias("_ng"))
    mc = cells.groupBy("_c").agg(F.sum("_o").cast("decimal(38,0)")
                                 .alias("_nc"))
    tot = cells.agg(F.sum("_o").cast("decimal(38,0)").alias("_n"),
                    F.countDistinct("_c").cast("bigint").alias("_cc"))
    joined = (cells.join(F.broadcast(mg), "_g")
              .join(F.broadcast(mc), "_c")
              .crossJoin(F.broadcast(tot)))
    o = F.col("_o").cast("double")
    e = ((F.col("_ng") * F.col("_nc")).cast("double")
         / F.col("_n").cast("double"))
    d9 = lambda x: F.round(x, 9).cast("decimal(38,12)")  # noqa: E731
    per_g = joined.groupBy("_g", "_ng", "_cc").agg(
        F.sum(d9((o - e) * (o - e) / e - e)).cast("double").alias("_adj"))
    chi2 = F.round(F.col("_adj") + F.col("_ng").cast("double"), 9)
    dof = F.col("_cc") - F.lit(1)
    # exact even-df upper tail: e^{-x/2} * sum_{i=0}^{df/2-1} (x/2)^i / i!
    # via an in-plan fold carrying (sum, term): term_i = term_{i-1}*(x/2)/i
    # sequence(1, 0) is DESCENDING in Spark, not empty — df=2 (a single
    # i=0 term, sum = 1) must bypass the fold explicitly
    halves = F.expr(
        "CASE WHEN _dof < 4 THEN 1.0d ELSE "
        "aggregate(sequence(1, int(_dof/2) - 1), "
        "named_struct('s', 1.0d, 't', 1.0d), "
        "(acc, i) -> named_struct("
        "'s', acc.s + acc.t * (_chi/2.0d) / cast(i as double), "
        "'t', acc.t * (_chi/2.0d) / cast(i as double)), acc -> acc.s) END")
    staged = per_g.select(
        F.col("_g"), F.col("_ng"), chi2.alias("_chi"), dof.alias("_dof"))
    pval = F.when(F.col("_dof") % 2 == 0,
                  F.when(F.col("_dof") == 0, F.lit(1.0))
                  .otherwise(F.least(F.exp(-F.col("_chi") / 2) * halves,
                                     F.lit(1.0))))
    withp = staged.select("_g", "_ng", "_chi", "_dof",
                          F.round(pval, 9).alias("_p"))
    m = Window.orderBy(F.lit(1))
    asc = Window.orderBy(F.col("_p").asc(), F.col("_g").asc())
    rev = (Window.orderBy(F.col("_p").asc(), F.col("_g").asc())
           .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    bh = withp.select(
        "_g", "_ng", "_chi", "_dof", "_p",
        F.count(F.lit(1)).over(m).cast("double").alias("_m"),
        F.row_number().over(asc).cast("double").alias("_rk"))
    bh = bh.select(
        "_g", "_ng", "_chi", "_dof", "_p",
        F.least(F.min(F.round(F.col("_p") * F.col("_m") / F.col("_rk"), 9))
                .over(rev), F.lit(1.0)).alias("_padj"))
    return bh.select(
        F.col("_g").alias(group_col),
        F.col("_ng").cast("bigint").alias("n"),
        F.round(F.col("_chi"), 6).alias("chi2"),
        F.col("_dof").alias("dof"),
        F.round(F.col("_p"), 6).alias("p_value"),
        F.round(F.col("_padj"), 6).alias("p_adjusted"),
        (F.col("_padj") <= F.lit(alpha)).alias("significant"))


def _group_sums(df: DataFrame, group_col: str, value_col: str):
    """Per-group (n, Σx@2dp, Σx²@4dp) — the shared exact-sufficient-stats
    aggregate under ANOVA / Brown-Forsythe (natural 2-dp-currency scale,
    lossless; see :func:`welch_ttest`).

    The square is an EXACT DECIMAL PRODUCT (xd², (18,2)×(18,2) →
    (37,4)), never ROUND(x², 4) of a double: rounding a double to 4 dp
    at ≥1e9 magnitudes is engine-divergent (the scaled-multiply round
    path loses the grid — caught by the sf0.001 ANOVA hash).

    Magnitude envelope (r8 ADVICE): decimal(18,2) holds |x| < 1e16;
    beyond it the cast overflows to NULL under non-ANSI Spark and rows
    silently leave Σx/Σx² while the count keeps them — callers own
    keeping values inside the envelope (the :func:`welch_ttest`
    contract)."""
    x = F.col(value_col).cast("double")
    xd = F.round(x, 2).cast("decimal(18,2)")
    return (df.filter(F.col(group_col).isNotNull()
                      & F.col(value_col).isNotNull())
            .groupBy(F.col(group_col).alias("_g"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("_n"),
                 F.sum(xd).cast("decimal(38,2)").alias("_s"),
                 F.sum((xd * xd).cast("decimal(38,4)")).alias("_q")))


def _ordered_fold(order_col, value_expr):
    """(collect → sort by key → left-fold) — sums a BOUNDED per-group
    frame of doubles in DETERMINISTIC key order, so no round-to-9dp of
    potentially-huge terms is ever needed (ROUND(double, 9) above ~1e8
    is ambiguous and engine-divergent).  Mirrors DuckDB's
    list_reduce(list_transform(list_sort(LIST({'g','v'})), x -> x.v),
    (a, b) -> a + b) — both are the exact left fold v₁+v₂+… in key
    order.  Returns (array_agg_expression, fold_expression(name))."""
    arr = F.sort_array(F.collect_list(F.struct(
        F.col(order_col).cast("string").alias("_g"),
        value_expr.alias("_v"))))
    def fold(name):
        return F.expr(
            f"aggregate({name}, 0.0d, (acc, s) -> acc + s._v)")
    return arr, fold


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F-test — does the group mean differ ANYWHERE across
    k groups? (the k-group generalization of :func:`welch_ttest`, equal-
    variance form) plus the η² effect size.

        SSB = Σ_g s_g²/n_g − S²/N     SSW = Σx² − Σ_g s_g²/n_g
        F   = (SSB/(k−1)) / (SSW/(N−k))

    Scale design: ONE (group) hash aggregate of exact decimal sufficient
    statistics (2-dp natural scale, exact decimal squares, split-cast to
    double — the Welch recipe), then a k-row rollup whose s_g²/n_g terms
    sum as a DETERMINISTIC key-ordered fold (:func:`_ordered_fold` —
    these terms are too large for a stable round-9; the fold needs no
    rounding at all).  Returns one row:
    (k, n, ss_between, ss_within, df_between, df_within, f_stat,
    eta_sq)."""
    g = _group_sums(df, group_col, value_col)
    sd = _split_cast(F.col("_s"))
    nd = F.col("_n").cast("double")
    arr, fold = _ordered_fold("_g", sd * sd / nd)
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("_n").cast("bigint").alias("n"),
        arr.alias("_arr"),
        F.sum("_s").alias("_st"),
        F.sum("_q").alias("_qt"))
    ntot = F.col("n").cast("double")
    sm2 = fold("_arr")
    st, qt = _split_cast(F.col("_st")), _split_cast(F.col("_qt"))
    ssb = sm2 - st * st / ntot
    ssw = qt - sm2
    dfb = (F.col("k") - 1).cast("bigint")
    dfw = (F.col("n") - F.col("k")).cast("bigint")
    fstat = (ssb / dfb.cast("double")) / (ssw / dfw.cast("double"))
    return agg.select(
        "k", "n",
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        dfb.alias("df_between"), dfw.alias("df_within"),
        F.round(fstat, 6).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 6).alias("eta_sq"))


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Cohen's kappa inter-rater agreement — observed agreement corrected
    for chance:  κ = (p_o − p_e)/(1 − p_e), p_e = Σ_c p_a(c)·p_b(c).
    The label-classifier QA metric `classification_report` doesn't carry.

    Scale design: ONE (a,b) cell aggregate; the diagonal sum and the
    margin cross-products are EXACT integers, and κ reduces to a single
    exact-integer ratio (p_o·n² − p_e·n² over n² − p_e·n²) — κ is exact
    to the terminal division, no float sum ever crosses partitions.
    Degenerate contract (r8 ADVICE): perfect chance agreement
    (p_e = 1, e.g. both raters always emit one identical label) makes
    κ's denominator n² − p_e·n² = 0 — κ is NULL by contract, like the
    sibling tests' guarded denominators; empty input yields NULL
    po/pe/kappa.  Returns one row: (n, po, pe, kappa)."""
    cells = (df.filter(F.col(rater_a_col).isNotNull()
                       & F.col(rater_b_col).isNotNull())
             .groupBy(F.col(rater_a_col).alias("_a"),
                      F.col(rater_b_col).alias("_b"))
             .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_o")))
    ma = cells.groupBy("_a").agg(F.sum("_o").cast("decimal(38,0)")
                                 .alias("_na"))
    mb = cells.groupBy("_b").agg(F.sum("_o").cast("decimal(38,0)")
                                 .alias("_nb"))
    # pe numerator: join margins on the LABEL (a-label == b-label)
    pe = (ma.join(mb, ma["_a"] == mb["_b"])
          .agg(F.sum(F.col("_na") * F.col("_nb")).cast("decimal(38,0)")
               .alias("_pe_num")))
    agg = cells.agg(
        F.sum("_o").cast("decimal(38,0)").alias("_nn"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_o"))
              .otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("decimal(38,0)").alias("_diag"))
    j = agg.crossJoin(F.broadcast(pe))
    n, diag, pen = F.col("_nn"), F.col("_diag"), F.col("_pe_num")
    # kappa = (diag*n - pe_num) / (n*n - pe_num): exact integer numerator
    # and denominator, two split-casts, one terminal division
    return j.select(
        n.cast("bigint").alias("n"),
        F.round(F.when(n > 0, diag.cast("double") / n.cast("double")), 6)
        .alias("po"),
        F.round(F.when(n > 0, _split_cast(pen) / _split_cast(n * n)), 6)
        .alias("pe"),
        F.round(F.when(n * n - pen > 0,
                       _split_cast(diag * n - pen)
                       / _split_cast(n * n - pen)), 6).alias("kappa"))


def levene_bf(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) variance-homogeneity test:
    ANOVA F on z_ij = |x_ij − median_g| — "are the group SPREADS equal?",
    the assumption check in front of plain ANOVA.

    Scale design: group medians are the LOWER MEDIAN picked exactly on
    each group's distinct-value grid (min v with 2·cum ≥ n — exact
    integer comparison, no interpolation to diverge on), broadcast back
    by group; z is exact at the values' 2-dp scale, and the F on z
    follows the :func:`anova_oneway` recipe (exact decimal sums,
    split-cast, round-9 k-row rollup).  Returns one row:
    (k, n, f_stat, df_between, df_within)."""
    from pyspark.sql.window import Window

    v = F.col(value_col).cast("decimal(38,2)")
    base = (df.filter(F.col(group_col).isNotNull()
                      & F.col(value_col).isNotNull())
            .select(F.col(group_col).alias("_g"), v.alias("_v")))
    # r12: grid materialized once; the per-group total is the same
    # window pass's unbounded max (exactly Σ_c — no re-aggregation of
    # the corpus subtree, which re-ran the full scan), so the median
    # needs no second scan or join.
    from ..io import cut_lineage

    per_v = cut_lineage(base.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")))
    w = (Window.partitionBy("_g").orderBy("_v")
         .rowsBetween(Window.unboundedPreceding, 0))
    w_all = (Window.partitionBy("_g")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    cum = per_v.select(
        "_g", "_v",
        F.sum("_c").over(w).cast("bigint").alias("_cum"),
        F.sum("_c").over(w_all).cast("bigint").alias("_ng"))
    med = (cum.filter(F.col("_cum") * 2 >= F.col("_ng"))
           .groupBy("_g").agg(F.min("_v").alias("_med")))
    z = (base.join(F.broadcast(med), "_g")
         .select("_g", F.abs(F.col("_v") - F.col("_med"))
                 .cast("double").alias("_z")))
    out = anova_oneway(z, "_g", "_z")
    return out.select("k", "n", "f_stat", "df_between", "df_within")


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall's τ-b rank correlation (tie-adjusted) — the
    concordant-vs-discordant companion to :func:`spearman_correlation`
    (robust to rank-preserving transforms AND interpretable as a
    probability of concordance).

        τ_b = (C − D) / √((n0 − n1)(n0 − n2)),  n0 = n(n−1)/2

    Scale design: rows collapse to the JOINT distinct grid (x, y, count)
    — the only corpus pass — and C/D come from a cell×cell self-join
    with strict inequalities: O(cells²) pairs, independent of row count
    (DISCRETE columns; pre-round truly continuous ones — the KS grid
    caveat).  All counts are exact DECIMAL(38,0); τ is one terminal
    ratio of split-cast exact integers.  Returns (n, n_pairs,
    concordant, discordant, tau_b)."""
    cells = (df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
             .select(F.col(x_col).cast("decimal(38,6)").alias("_x"),
                     F.col(y_col).cast("decimal(38,6)").alias("_y"))
             .groupBy("_x", "_y")
             .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_c")))
    a = cells.select(F.col("_x").alias("_x1"), F.col("_y").alias("_y1"),
                     F.col("_c").alias("_c1"))
    b = cells.select(F.col("_x").alias("_x2"), F.col("_y").alias("_y2"),
                     F.col("_c").alias("_c2"))
    pairs = a.join(b, (F.col("_x1") < F.col("_x2")))
    cd = pairs.agg(
        F.sum(F.when(F.col("_y1") < F.col("_y2"),
                     F.col("_c1") * F.col("_c2"))
              .otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("decimal(38,0)").alias("_conc"),
        F.sum(F.when(F.col("_y1") > F.col("_y2"),
                     F.col("_c1") * F.col("_c2"))
              .otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("decimal(38,0)").alias("_disc"))
    # tie terms from the margins of the same cell frame, all in DOUBLED
    # form (t(t−1), n(n−1)) — exact decimals with no division anywhere
    # (decimal÷int silently becomes double in some engines):
    # τ_b = 2(C−D)/√((n(n−1)−Σtx(tx−1))·(n(n−1)−Σty(ty−1)))
    tx = (cells.groupBy("_x").agg(F.sum("_c").alias("_t"))
          .agg(F.sum(F.col("_t") * (F.col("_t") - 1))
               .cast("decimal(38,0)").alias("_n1x2"),
               F.sum("_t").cast("decimal(38,0)").alias("_n")))
    ty = (cells.groupBy("_y").agg(F.sum("_c").alias("_t"))
          .agg(F.sum(F.col("_t") * (F.col("_t") - 1))
               .cast("decimal(38,0)").alias("_n2x2")))
    j = cd.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    n = F.col("_n")
    n0x2 = (n * (n - 1)).cast("decimal(38,0)")
    num = (F.col("_conc") - F.col("_disc")).cast("decimal(38,0)")
    den = F.sqrt(_split_cast((n0x2 - F.col("_n1x2")).cast("decimal(38,0)"))
                 * _split_cast((n0x2 - F.col("_n2x2")).cast("decimal(38,0)")))
    half = F.floor(n0x2 / 2).cast("bigint")  # n(n-1) is even: exact
    return j.select(
        n.cast("bigint").alias("n"),
        half.alias("n_pairs"),
        F.col("_conc").cast("bigint").alias("concordant"),
        F.col("_disc").cast("bigint").alias("discordant"),
        F.round(F.when(den > 0,
                       F.lit(2.0) * _split_cast(num) / den), 6)
        .alias("tau_b"))


def srm_check(
    df: DataFrame,
    group_col: str,
    expected: dict,
    alpha: float = 0.001,
) -> DataFrame:
    """Sample-ratio-mismatch check — the first A/B-test health gate: do
    assignment counts match the designed split?  (A biased randomizer
    invalidates every downstream metric; the standard gate is a χ²
    goodness-of-fit at a strict α like 0.001.)

        χ² = Σ_g (o_g − n·r_g)² / (n·r_g)

    Scale design: ONE conditional-count aggregate over the table (counts
    exact bigint; groups outside ``expected`` are ignored by contract);
    the χ² is a fixed-order double expression of exact integers and
    literal ratios.  p-value: df=1 → exact erfc(√(χ²/2)) (A&S); even
    df → the e^{−x/2}Σ(x/2)^i/i! closed form; other df → NULL
    (documented).  Returns one row:
    (n, k, chi2, dof, p_value, srm_detected)."""
    groups = sorted(expected)
    k = len(groups)
    counts = df.agg(*[
        F.sum(F.when(F.col(group_col) == g, 1).otherwise(0))
        .cast("bigint").alias(f"_c{i}") for i, g in enumerate(groups)])
    n = sum((F.col(f"_c{i}") for i in range(1, k)), F.col("_c0"))
    nd = n.cast("double")
    chi = None
    for i, g in enumerate(groups):
        e = nd * F.lit(float(expected[g]))
        od = F.col(f"_c{i}").cast("double")
        t = (od - e) * (od - e) / e
        chi = t if chi is None else chi + t
    chi = F.round(chi, 9)
    dof = k - 1
    staged = counts.select(n.cast("bigint").alias("n"),
                           F.lit(k).cast("bigint").alias("k"),
                           chi.alias("_chi"))
    if dof == 1:
        p = F.round(F.least(_erfc_as(F.sqrt(F.col("_chi") / 2)),
                            F.lit(1.0)), 9)
    elif dof % 2 == 0:
        halves = F.expr(
            f"CASE WHEN {dof} < 4 THEN 1.0d ELSE "
            f"aggregate(sequence(1, {dof // 2 - 1}), "
            "named_struct('s', 1.0d, 't', 1.0d), "
            "(acc, i) -> named_struct("
            "'s', acc.s + acc.t * (_chi/2.0d) / cast(i as double), "
            "'t', acc.t * (_chi/2.0d) / cast(i as double)), "
            "acc -> acc.s) END")
        p = F.round(F.least(F.exp(-F.col("_chi") / 2) * halves,
                            F.lit(1.0)), 9)
    else:
        p = F.lit(None).cast("double")
    return staged.select(
        "n", "k",
        F.round(F.col("_chi"), 6).alias("chi2"),
        F.lit(dof).cast("bigint").alias("dof"),
        F.round(p, 6).alias("p_value"),
        (p <= F.lit(alpha)).alias("srm_detected"))


def mood_median_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Mood's median test — do the k groups share a common median?
    (the cruder-but-assumption-free cousin of ANOVA/Kruskal: only counts
    above/below the POOLED median are used, so outliers cannot move it.)

    Scale design: the pooled LOWER median comes exactly off the global
    distinct-value grid (integer comparison, the `levene_bf` recipe);
    one conditional (group) aggregate counts above/≤; the 2×k χ² is
    computed over the k-row frame with round-9 decimal term sums.
    df = k−1; even df gets the exact closed-form tail, odd df NULL
    (the `chi2_gof_bh` contract).  The median prefix runs as the range-
    partitioned :func:`_prefix_sums`.  Returns one row:
    (k, n, pooled_median, chi2, dof, p_value)."""
    v = F.col(value_col).cast("decimal(38,6)")
    base = (df.filter(F.col(group_col).isNotNull()
                      & F.col(value_col).isNotNull())
            .select(F.col(group_col).alias("_g"), v.alias("_v")))
    per_v = base.groupBy("_v").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_c"))
    cum = (_prefix_sums(per_v, "_v", [("_c", "_cm")], inclusive=True)
           .select("_v", F.col("_cm").cast("bigint").alias("_cm")))
    # r12: the pooled total is the inclusive grid's max cumulative
    # (exactly Σ_c), read off the checkpointed grid instead of
    # re-aggregating per_v, which re-ran the full scan.  (A shared
    # (group, value) grid + checkpoint was prototyped and measured
    # SLOWER at sf0.1 — the eager materialization costs more than the
    # column-pruned scans it saves.)
    tot = cum.agg(F.max("_cm").cast("bigint").alias("_nn"))
    med = (cum.crossJoin(F.broadcast(tot))
           .filter(F.col("_cm") * 2 >= F.col("_nn"))
           .agg(F.min("_v").alias("_med")))
    per_g = (base.crossJoin(F.broadcast(med))
             .groupBy("_g")
             .agg(F.sum(F.when(F.col("_v") > F.col("_med"), 1)
                        .otherwise(0)).cast("bigint").alias("_a"),
                  F.sum(F.when(F.col("_v") <= F.col("_med"), 1)
                        .otherwise(0)).cast("bigint").alias("_b"),
                  F.min("_med").alias("_med")))
    d9 = lambda e: F.round(e, 9).cast("decimal(38,12)")  # noqa: E731
    tots = per_g.agg(F.sum("_a").cast("bigint").alias("_ta"),
                     F.sum("_b").cast("bigint").alias("_tb"))
    j = per_g.crossJoin(F.broadcast(tots))
    ng = (F.col("_a") + F.col("_b")).cast("double")
    nn = (F.col("_ta") + F.col("_tb")).cast("double")
    ea = ng * F.col("_ta").cast("double") / nn
    eb = ng * F.col("_tb").cast("double") / nn
    ad, bd = F.col("_a").cast("double"), F.col("_b").cast("double")
    term = d9((ad - ea) * (ad - ea) / ea + (bd - eb) * (bd - eb) / eb)
    agg = j.agg(F.count(F.lit(1)).cast("bigint").alias("k"),
                F.sum(F.col("_a") + F.col("_b")).cast("bigint").alias("n"),
                F.min("_med").alias("_med"),
                F.round(F.sum(term).cast("double"), 9).alias("_chi"))
    dof = F.col("k") - 1
    halves = F.expr(
        "CASE WHEN (k - 1) < 4 THEN 1.0d ELSE "
        "aggregate(sequence(1, int((k - 1)/2) - 1), "
        "named_struct('s', 1.0d, 't', 1.0d), "
        "(acc, i) -> named_struct("
        "'s', acc.s + acc.t * (_chi/2.0d) / cast(i as double), "
        "'t', acc.t * (_chi/2.0d) / cast(i as double)), acc -> acc.s) END")
    pval = F.when(dof % 2 == 0,
                  F.when(dof == 0, F.lit(1.0))
                  .otherwise(F.least(F.exp(-F.col("_chi") / 2) * halves,
                                     F.lit(1.0))))
    return agg.select(
        "k", "n",
        F.col("_med").cast("double").alias("pooled_median"),
        F.round(F.col("_chi"), 6).alias("chi2"),
        dof.cast("bigint").alias("dof"),
        F.round(pval, 6).alias("p_value"))


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Kruskal-Wallis H test — the k-group rank ANOVA (does ANY group's
    distribution sit higher?), the nonparametric umbrella over
    :func:`mann_whitney_u` (k=2) next to the parametric
    :func:`anova_oneway`:

        H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1),  tie-corrected by
        C = 1 − Σ(t³−t)/(N³−N)

    Scale design: one (group, value) aggregate + the GLOBAL distinct
    grid with range-partitioned prefix counts; doubled midranks keep
    every rank sum R_g and the tie term exact DECIMAL(38,0) (the
    Mann-Whitney recipe); only the k-row H assembly is floating point
    (round-9 decimal term sums).  df = k−1; even df → exact closed-form
    tail, odd df → NULL (the family contract).  Returns one row:
    (k, n, h_stat, dof, p_value)."""
    v = F.col(value_col).cast("decimal(38,6)")
    base = (df.filter(F.col(group_col).isNotNull()
                      & F.col(value_col).isNotNull())
            .select(F.col(group_col).alias("_g"), v.alias("_v")))
    # r12: the (group, value) grid is materialized once — it feeds the
    # global value grid AND the midrank join, and the tie term reads the
    # prefix grid (already checkpointed inside _prefix_sums) instead of
    # re-aggregating the corpus subtree.  One table scan total
    # (previously three: per_gv re-ran for the join, and ties re-ran
    # per_gv -> per_v from the scan up).
    from ..io import cut_lineage

    per_gv = cut_lineage(base.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_cgv")))
    per_v = per_gv.groupBy("_v").agg(
        F.sum("_cgv").cast("decimal(38,0)").alias("_cv"))
    grid = _prefix_sums(per_v, "_v", [("_cv", "_prev")])
    rank2 = F.lit(2) * F.col("_prev") + F.col("_cv") + F.lit(1)
    joined = per_gv.join(grid.select("_v", rank2.alias("_r2")), "_v")
    per_g = joined.groupBy("_g").agg(
        F.sum("_cgv").cast("decimal(38,0)").alias("_ng"),
        F.sum(F.col("_cgv") * F.col("_r2")).cast("decimal(38,0)")
        .alias("_r2g"))
    ties = grid.agg(
        F.sum(F.col("_cv") * F.col("_cv") * F.col("_cv") - F.col("_cv"))
        .cast("decimal(38,0)").alias("_tcorr"))
    # R_g^2/n_g with R_g = R2_g/2: (R2_g)^2/(4 n_g) — terms too large for
    # a stable round-9; sum the k of them in deterministic key order
    term = (_split_cast(F.col("_r2g") * F.col("_r2g"))
            / (F.lit(4.0) * F.col("_ng").cast("double")))
    arr, fold = _ordered_fold("_g", term)
    agg = (per_g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("_ng").cast("decimal(38,0)").alias("_n"),
        arr.alias("_arr"))
        .crossJoin(F.broadcast(ties)))
    nd = F.col("_n").cast("double")
    h = (F.lit(12.0) * fold("_arr") / (nd * (nd + F.lit(1.0)))
         - F.lit(3.0) * (nd + F.lit(1.0)))
    corr = (F.lit(1.0)
            - _split_cast(F.col("_tcorr")) / (nd * nd * nd - nd))
    hc = F.round(F.when(corr > 0, h / corr), 9)
    staged = agg.select(
        "k", F.col("_n").cast("bigint").alias("n"), hc.alias("_chi"))
    halves = F.expr(
        "CASE WHEN (k - 1) < 4 THEN 1.0d ELSE "
        "aggregate(sequence(1, int((k - 1)/2) - 1), "
        "named_struct('s', 1.0d, 't', 1.0d), "
        "(acc, i) -> named_struct("
        "'s', acc.s + acc.t * (_chi/2.0d) / cast(i as double), "
        "'t', acc.t * (_chi/2.0d) / cast(i as double)), acc -> acc.s) END")
    dof = F.col("k") - 1
    pval = F.when(dof % 2 == 0,
                  F.when(dof == 0, F.lit(1.0))
                  .otherwise(F.least(F.exp(-F.col("_chi") / 2) * halves,
                                     F.lit(1.0))))
    return staged.select(
        "k", "n",
        F.round(F.col("_chi"), 6).alias("h_stat"),
        dof.cast("bigint").alias("dof"),
        F.round(pval, 6).alias("p_value"))


def wilcoxon_signed_rank(
    df: DataFrame,
    x_col,
    y_col,
    value_scale: int = 2,
) -> DataFrame:
    """Wilcoxon signed-rank test for PAIRED measurements — "does x
    systematically exceed y on the same rows?" (the rank-robust twin of
    a paired t-test; the paired complement to :func:`mann_whitney_u`):

        W⁺ = Σ ranks of |x−y| over positive differences (zeros dropped),
        z  = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48)

    Scale design: nonzero differences collapse to the |d| distinct grid
    with range-partitioned prefix counts; doubled midranks keep W⁺, the
    expectation and the tie term in EXACT quadrupled-integer algebra
    (num×4 = 2·W⁺ₓ₂ − n(n+1), var×48 = 2n(n+1)(2n+1) − Σ(t³−t)); only
    the terminal z (÷4√(S₄₈/48)) and the A&S-erfc p are floating point.

    Quantization contract (r8 ADVICE): x and y are rounded to
    ``value_scale`` decimal places (default 2) BEFORE differencing, so
    paired differences below 0.5·10^−value_scale collapse to zero and
    are dropped as ties (they leave n_nonzero and W⁺).  Fine-scale
    metrics — rates, latencies in seconds — must pass a larger
    ``value_scale`` (values must stay inside the decimal(18,s) envelope
    |x| < 10^(18−s), the :func:`welch_ttest` contract).
    Returns one row: (n_nonzero, w_plus, w_minus, z, p_value)."""
    s = value_scale
    xs = F.col(x_col) if isinstance(x_col, str) else x_col
    ys = F.col(y_col) if isinstance(y_col, str) else y_col
    d = (F.round(xs.cast("double"), s).cast(f"decimal(18,{s})")
         - F.round(ys.cast("double"), s).cast(f"decimal(18,{s})"))
    base = (df.filter(xs.isNotNull() & ys.isNotNull())
            .select(d.alias("_d"))
            .filter(F.col("_d") != 0)
            .select(F.abs(F.col("_d")).alias("_a"),
                    F.when(F.col("_d") > 0, 1).otherwise(0).alias("_p")))
    per_a = base.groupBy("_a").agg(
        F.sum("_p").cast("decimal(38,0)").alias("_cp"),
        F.sum(1 - F.col("_p")).cast("decimal(38,0)").alias("_cn"))
    t_ = F.col("_cp") + F.col("_cn")
    grid = _prefix_sums(per_a.withColumn("_t", t_.cast("decimal(38,0)")),
                        "_a", [("_t", "_prev")])
    rank2 = F.lit(2) * F.col("_prev") + F.col("_t") + F.lit(1)
    agg = grid.agg(
        F.sum(t_).cast("decimal(38,0)").alias("_n"),
        F.sum(F.col("_cp") * rank2).cast("decimal(38,0)").alias("_wpx2"),
        F.sum(F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t"))
        .cast("decimal(38,0)").alias("_tc"))
    n = F.col("_n")
    num4 = (F.lit(2) * F.col("_wpx2") - n * (n + 1)).cast("decimal(38,0)")
    s48 = (F.lit(2) * n * (n + 1) * (2 * n + 1) - F.col("_tc")) \
        .cast("decimal(38,0)")
    z = (_split_cast(num4)
         / (F.lit(4.0) * F.sqrt(_split_cast(s48) / F.lit(48.0))))
    p = F.when(s48 > 0,
               F.round(F.least(_erfc_as(F.abs(z) / F.sqrt(F.lit(2.0))),
                               F.lit(1.0)), 9))
    wtotx2 = n * (n + 1)  # 2*(W+ + W-) = n(n+1)
    # all-tied input (every pair collapses to d=0 at value_scale) leaves
    # an EMPTY grid: sums are NULL -> report n_nonzero=0, W=0, z/p NULL
    return agg.select(
        F.coalesce(n.cast("bigint"), F.lit(0)).alias("n_nonzero"),
        F.coalesce(_split_cast(F.col("_wpx2")) / F.lit(2.0),
                   F.lit(0.0)).alias("w_plus"),
        F.coalesce((_split_cast(wtotx2.cast("decimal(38,0)"))
                    - _split_cast(F.col("_wpx2"))) / F.lit(2.0),
                   F.lit(0.0)).alias("w_minus"),
        F.round(F.when(s48 > 0, z), 6).alias("z"),
        F.round(p, 6).alias("p_value"))


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman test — the repeated-measures rank ANOVA: do k treatments
    differ when every BLOCK (user, day, machine) sees all of them?
    (between-block variation cancels by ranking WITHIN each block — the
    blocked companion to :func:`kruskal_wallis`):

        χ²_F = 12/(nk(k+1)) Σ_j R_j² − 3n(k+1)
        (tie-corrected denominator 1 − ΣΣ(t³−t)/(nk(k²−1)))

    Scale design: within-block midranks come from a window PARTITIONED
    BY BLOCK (frames are k rows — parallel across blocks, never global);
    doubled midranks keep every rank sum and the tie term exact
    DECIMAL(38,0); the k-column R_j² assembly folds in deterministic
    treatment order (:func:`_ordered_fold`).  Blocks missing a
    treatment are dropped (complete-block contract, documented).
    Returns one row: (n_blocks, k, chi2_f, dof, p_value)."""
    from pyspark.sql.window import Window as _W

    from ..io import cut_lineage

    v = F.col(value_col).cast("decimal(38,6)")
    # r12: materialize the narrow (block, treatment, value) projection —
    # the treatment count, the per-block completeness check, and the
    # ranked-row join each re-ran the full table scan (8 scans in the
    # executed plan; the spearman narrow-projection pattern).
    base = cut_lineage(
        df.filter(F.col(block_col).isNotNull()
                  & F.col(treatment_col).isNotNull()
                  & F.col(value_col).isNotNull())
        .select(F.col(block_col).alias("_b"),
                F.col(treatment_col).alias("_t"), v.alias("_v")))
    # complete blocks only: every treatment present exactly once
    kk = base.agg(F.countDistinct("_t").cast("bigint").alias("_k"))
    cnt = base.groupBy("_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cb"),
        F.countDistinct("_t").cast("bigint").alias("_tb"))
    complete = (cnt.crossJoin(F.broadcast(kk))
                .filter((F.col("_cb") == F.col("_k"))
                        & (F.col("_tb") == F.col("_k")))
                .select("_b"))
    rows = base.join(complete, "_b")
    # doubled midrank within block: 2*(#smaller) + (#tied+1); rank()-1
    # counts strict-smaller exactly, a (block,value) partition counts ties
    smaller = (F.rank().over(_W.partitionBy("_b").orderBy("_v"))
               - F.lit(1)).cast("bigint")
    tied = F.count(F.lit(1)).over(_W.partitionBy("_b", "_v")) \
        .cast("bigint")
    ranked = rows.select(
        "_b", "_t",
        (F.lit(2) * smaller + tied + 1).cast("decimal(38,0)")
        .alias("_r2"),
        tied.cast("bigint").alias("_tie"))
    per_t = ranked.groupBy("_t").agg(
        F.sum("_r2").cast("decimal(38,0)").alias("_rj2"))
    # tie term: sum over (block, tied-group) of t^3 - t; each row of a
    # tied group of size t contributes (t^3 - t)/t = t^2 - 1 exactly
    ties = ranked.agg(
        F.sum(F.col("_tie") * F.col("_tie") - 1).cast("decimal(38,0)")
        .alias("_tc"))
    nb = complete.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    term = _split_cast(F.col("_rj2") * F.col("_rj2"))
    arr, fold = _ordered_fold("_t", term)
    agg = (per_t.agg(F.count(F.lit(1)).cast("bigint").alias("k"),
                     arr.alias("_arr"))
           .crossJoin(F.broadcast(nb))
           .crossJoin(F.broadcast(ties)))
    nd, kd = F.col("_n").cast("double"), F.col("k").cast("double")
    # R_j are doubled: Σ(R_j2)^2 = 4 ΣR_j^2
    sr = fold("_arr") / F.lit(4.0)
    chi_u = (F.lit(12.0) * sr / (nd * kd * (kd + F.lit(1.0)))
             - F.lit(3.0) * nd * (kd + F.lit(1.0)))
    corr = (F.lit(1.0) - _split_cast(F.col("_tc"))
            / (nd * kd * (kd * kd - F.lit(1.0))))
    chi = F.round(F.when(corr > 0, chi_u / corr), 9)
    staged = agg.select(F.col("_n").alias("n_blocks"), "k",
                        chi.alias("_chi"))
    halves = F.expr(
        "CASE WHEN (k - 1) < 4 THEN 1.0d ELSE "
        "aggregate(sequence(1, int((k - 1)/2) - 1), "
        "named_struct('s', 1.0d, 't', 1.0d), "
        "(acc, i) -> named_struct("
        "'s', acc.s + acc.t * (_chi/2.0d) / cast(i as double), "
        "'t', acc.t * (_chi/2.0d) / cast(i as double)), acc -> acc.s) END")
    dof = F.col("k") - 1
    pval = F.when(dof % 2 == 0,
                  F.when(dof == 0, F.lit(1.0))
                  .otherwise(F.least(F.exp(-F.col("_chi") / 2) * halves,
                                     F.lit(1.0))))
    return staged.select(
        "n_blocks", "k",
        F.round(F.col("_chi"), 6).alias("chi2_f"),
        dof.cast("bigint").alias("dof"),
        F.round(pval, 6).alias("p_value"))


def jarque_bera(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Jarque-Bera normality test — "can I even use the parametric
    tests?" (the gate in front of Welch/ANOVA; JB measures how far
    skewness and excess kurtosis sit from a Gaussian's 0/0):

        JB = n/6 · (S² + K²/4),  S = m₃/m₂^{3/2},  K = m₄/m₂² − 3

    Scale design: ONE aggregate of EXACT raw decimal moments — x, x²,
    x³, x⁴ of the 2-dp value as chained exact decimal products (scales
    2/4/6/8, never a double ROUND) — split-cast to doubles; central
    moments, S, K, JB are terminal fixed-order expressions; df=2 →
    exact p = e^{−JB/2}.  Magnitude envelope (r8 ADVICE): the chained
    decimal powers bound |x| < 10^7 for the x⁴ term at scale 8
    (decimal(38,8) holds 30 integer digits / four 7-digit factors) and
    |x| < 10^16 for x itself — currency/metric magnitudes fit, but
    values past the envelope overflow-to-NULL under non-ANSI Spark and
    silently leave the moment sums (the :func:`welch_ttest` contract).
    Returns one row: (n, skewness, ex_kurtosis, jb_stat, p_value)."""
    x = F.col(value_col).cast("double")
    x1 = F.round(x, 2).cast("decimal(18,2)")
    x2 = (x1 * x1).cast("decimal(18,4)")         # exact (<= 14 int digits)
    x3 = (x2 * x1).cast("decimal(38,6)")
    x4 = (x2 * x2).cast("decimal(38,8)")
    base = df.filter(x.isNotNull())
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(x1).cast("decimal(38,2)").alias("_s1"),
        F.sum(x2).cast("decimal(38,4)").alias("_s2"),
        F.sum(x3).alias("_s3"), F.sum(x4).alias("_s4"))
    nd = F.col("_n").cast("double")
    s1, s2 = _split_cast(F.col("_s1")), _split_cast(F.col("_s2"))
    s3, s4 = _split_cast(F.col("_s3")), _split_cast(F.col("_s4"))
    mu = s1 / nd
    m2 = s2 / nd - mu * mu
    m3 = s3 / nd - F.lit(3.0) * mu * (s2 / nd) + F.lit(2.0) * mu * mu * mu
    m4 = (s4 / nd - F.lit(4.0) * mu * (s3 / nd)
          + F.lit(6.0) * mu * mu * (s2 / nd)
          - F.lit(3.0) * mu * mu * mu * mu)
    skew = F.when(m2 > 0, m3 / F.sqrt(m2) / m2)
    exk = F.when(m2 > 0, m4 / (m2 * m2) - F.lit(3.0))
    jb = nd / F.lit(6.0) * (skew * skew + exk * exk / F.lit(4.0))
    return agg.select(
        F.col("_n").alias("n"),
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("ex_kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
        F.round(F.when(jb.isNotNull(),
                       F.least(F.exp(-jb / 2), F.lit(1.0))), 6)
        .alias("p_value"))


def cochrans_q(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    flag_col,
) -> DataFrame:
    """Cochran's Q — the blocked k-treatment test for BINARY outcomes
    (did k classifiers/variants succeed on the same items at different
    rates?  the binary Friedman / k-treatment McNemar):

        Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²)

    with C_j = per-treatment successes, R_i = per-block successes,
    T = total.  Scale design: complete blocks only (the Friedman
    contract); every sufficient statistic is an EXACT integer
    (decimal(38,0) sums of counts and squares), so Q is exact up to one
    terminal division of split-cast integers; df = k−1, even df →
    closed-form p.  Returns one row: (n_blocks, k, q_stat, dof,
    p_value)."""
    from ..io import cut_lineage

    flag = F.col(flag_col) if isinstance(flag_col, str) else flag_col
    # r12: materialize the narrow (block, treatment, flag) projection —
    # same multi-consumer scan shape as friedman_test (6 scans -> 1).
    base = cut_lineage(
        df.filter(F.col(block_col).isNotNull()
                  & F.col(treatment_col).isNotNull())
        .select(F.col(block_col).alias("_b"),
                F.col(treatment_col).alias("_t"),
                F.when(flag, 1).otherwise(0).alias("_f")))
    kk = base.agg(F.countDistinct("_t").cast("bigint").alias("_k"))
    cnt = base.groupBy("_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cb"),
        F.countDistinct("_t").cast("bigint").alias("_tb"))
    complete = (cnt.crossJoin(F.broadcast(kk))
                .filter((F.col("_cb") == F.col("_k"))
                        & (F.col("_tb") == F.col("_k")))
                .select("_b"))
    rows = base.join(complete, "_b")
    per_t = rows.groupBy("_t").agg(
        F.sum("_f").cast("decimal(38,0)").alias("_cj"))
    per_b = rows.groupBy("_b").agg(
        F.sum("_f").cast("decimal(38,0)").alias("_ri"))
    ct = per_t.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("_cj").cast("decimal(38,0)").alias("_tt"),
        F.sum(F.col("_cj") * F.col("_cj")).cast("decimal(38,0)")
        .alias("_sc2"))
    rt = per_b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum(F.col("_ri") * F.col("_ri")).cast("decimal(38,0)")
        .alias("_sr2"))
    j = ct.crossJoin(F.broadcast(rt))
    kd = F.col("k").cast("decimal(38,0)")
    num = (kd * F.col("_sc2") - F.col("_tt") * F.col("_tt")) \
        .cast("decimal(38,0)")
    den = (kd * F.col("_tt") - F.col("_sr2")).cast("decimal(38,0)")
    q = F.when(den > 0,
               F.round((F.col("k") - 1).cast("double")
                       * _split_cast(num) / _split_cast(den), 9))
    staged = j.select("n_blocks", "k", q.alias("_chi"))
    halves = F.expr(
        "CASE WHEN (k - 1) < 4 THEN 1.0d ELSE "
        "aggregate(sequence(1, int((k - 1)/2) - 1), "
        "named_struct('s', 1.0d, 't', 1.0d), "
        "(acc, i) -> named_struct("
        "'s', acc.s + acc.t * (_chi/2.0d) / cast(i as double), "
        "'t', acc.t * (_chi/2.0d) / cast(i as double)), acc -> acc.s) END")
    dof = F.col("k") - 1
    pval = F.when(F.col("_chi").isNotNull() & (dof % 2 == 0),
                  F.when(dof == 0, F.lit(1.0))
                  .otherwise(F.least(F.exp(-F.col("_chi") / 2) * halves,
                                     F.lit(1.0))))
    return staged.select(
        "n_blocks", "k",
        F.round(F.col("_chi"), 6).alias("q_stat"),
        dof.cast("bigint").alias("dof"),
        F.round(pval, 6).alias("p_value"))


def bartlett_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Bartlett's test — the parametric variance-homogeneity companion
    to :func:`levene_bf` (sharper under normality, fragile otherwise —
    run :func:`jarque_bera` first):

        χ² = [(N−k)·ln S²_p − Σ(nᵢ−1)·ln S²ᵢ] / C,
        C  = 1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1))

    Scale design: the :func:`_group_sums` exact decimal sufficient
    statistics give every S²ᵢ as a fixed-order double; the three k-row
    reductions (Σ(nᵢ−1)S²ᵢ, Σ(nᵢ−1)ln S²ᵢ, Σ1/(nᵢ−1)) fold in
    deterministic key order (:func:`_ordered_fold`).  Returns one row:
    (k, n, chi2, dof, p_value)."""
    g = _group_sums(df, group_col, value_col)
    nd = F.col("_n").cast("double")
    sd, qd = _split_cast(F.col("_s")), _split_cast(F.col("_q"))
    ss = qd - sd * sd / nd                      # (n_i - 1) * S_i^2
    var_i = ss / (nd - F.lit(1.0))
    a1, f1 = _ordered_fold("_g", ss)
    a2, f2 = _ordered_fold("_g", (nd - F.lit(1.0)) * F.log(var_i))
    a3, f3 = _ordered_fold("_g", F.lit(1.0) / (nd - F.lit(1.0)))
    agg = g.filter(F.col("_n") > 1).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("_n").cast("bigint").alias("n"),
        a1.alias("_a1"), a2.alias("_a2"), a3.alias("_a3"))
    ntot, kd = F.col("n").cast("double"), F.col("k").cast("double")
    nk = ntot - kd
    sp2 = f1("_a1") / nk
    chi_u = nk * F.log(sp2) - f2("_a2")
    cfac = (F.lit(1.0)
            + (f3("_a3") - F.lit(1.0) / nk)
            / (F.lit(3.0) * (kd - F.lit(1.0))))
    chi = F.round(F.when((F.col("k") > 1) & (nk > 0), chi_u / cfac), 9)
    staged = agg.select("k", "n", chi.alias("_chi"))
    halves = F.expr(
        "CASE WHEN (k - 1) < 4 THEN 1.0d ELSE "
        "aggregate(sequence(1, int((k - 1)/2) - 1), "
        "named_struct('s', 1.0d, 't', 1.0d), "
        "(acc, i) -> named_struct("
        "'s', acc.s + acc.t * (_chi/2.0d) / cast(i as double), "
        "'t', acc.t * (_chi/2.0d) / cast(i as double)), acc -> acc.s) END")
    dof = F.col("k") - 1
    pval = F.when(F.col("_chi").isNotNull() & (dof % 2 == 0),
                  F.when(dof == 0, F.lit(1.0))
                  .otherwise(F.least(F.exp(-F.col("_chi") / 2) * halves,
                                     F.lit(1.0))))
    return staged.select(
        "k", "n",
        F.round(F.col("_chi"), 6).alias("chi2"),
        dof.cast("bigint").alias("dof"),
        F.round(pval, 6).alias("p_value"))


def two_proportion_z(
    df: DataFrame,
    group_col: str,
    flag_col,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-proportion z-test (pooled variance) — "did the conversion RATE
    differ?", the categorical twin of :func:`welch_ttest`.

        z = (p̂_a − p̂_b) / √( p̂(1−p̂)(1/n_a + 1/n_b) )

    Scale design: ONE conditional-count scan (exact bigints); z and the
    two-sided erfc p-value are terminal fixed-order doubles of exact
    integer casts.  ``flag_col`` is a boolean column or Column
    expression.  Returns one row:
    (n_a, n_b, conv_a, conv_b, rate_a, rate_b, z, p_value)."""
    flag = F.col(flag_col) if isinstance(flag_col, str) else flag_col
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    agg = df.filter(in_a | in_b).agg(
        F.sum(F.when(in_a, 1).otherwise(0)).cast("bigint").alias("_na"),
        F.sum(F.when(in_b, 1).otherwise(0)).cast("bigint").alias("_nb"),
        F.sum(F.when(in_a & flag, 1).otherwise(0)).cast("bigint")
        .alias("_ca"),
        F.sum(F.when(in_b & flag, 1).otherwise(0)).cast("bigint")
        .alias("_cb"))
    nad, nbd = F.col("_na").cast("double"), F.col("_nb").cast("double")
    cad, cbd = F.col("_ca").cast("double"), F.col("_cb").cast("double")
    pa = F.when(F.col("_na") > 0, cad / nad)
    pb = F.when(F.col("_nb") > 0, cbd / nbd)
    pp = (cad + cbd) / (nad + nbd)
    # degenerate pooled rate (all or none converted) has zero variance:
    # z/p are NULL by contract (ANSI divide-by-zero otherwise)
    z = F.when((pp > 0) & (pp < 1),
               (pa - pb) / F.sqrt(pp * (F.lit(1.0) - pp)
                                  * (F.lit(1.0) / nad
                                     + F.lit(1.0) / nbd)))
    p = F.when(z.isNotNull(),
               F.round(F.least(_erfc_as(F.abs(z) / F.sqrt(F.lit(2.0))),
                               F.lit(1.0)), 9))
    return agg.select(
        F.col("_na").alias("n_a"), F.col("_nb").alias("n_b"),
        F.col("_ca").alias("conv_a"), F.col("_cb").alias("conv_b"),
        F.round(pa, 6).alias("rate_a"), F.round(pb, 6).alias("rate_b"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p_value"))


def mcnemar_test(
    df: DataFrame,
    a_flag,
    b_flag,
) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — did the flag flip
    asymmetrically between two conditions on the SAME rows? (the paired
    companion to :func:`two_proportion_z`, which assumes independent
    groups; classic for before/after model comparisons on one eval set).

        χ² = (n01 − n10)² / (n01 + n10)   (no continuity correction —
                                            documented contract)

    Scale design: ONE conditional-count scan; χ² is exact-integer-derived
    and the df=1 p-value is the exact erfc(√(χ²/2)).  ``a_flag``/
    ``b_flag`` are boolean Columns or column names.  Returns one row:
    (n, n_both, n_only_a, n_only_b, n_neither, chi2, p_value)."""
    a = F.col(a_flag) if isinstance(a_flag, str) else a_flag
    b = F.col(b_flag) if isinstance(b_flag, str) else b_flag
    agg = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.when(a & b, 1).otherwise(0)).cast("bigint").alias("_nb"),
        F.sum(F.when(a & ~b, 1).otherwise(0)).cast("bigint").alias("_n01"),
        F.sum(F.when(~a & b, 1).otherwise(0)).cast("bigint").alias("_n10"),
        F.sum(F.when(~a & ~b, 1).otherwise(0)).cast("bigint")
        .alias("_nn"))
    d01, d10 = F.col("_n01").cast("double"), F.col("_n10").cast("double")
    chi = F.when(F.col("_n01") + F.col("_n10") > 0,
                 (d01 - d10) * (d01 - d10) / (d01 + d10))
    # least() SKIPS NULLs in both engines — guard so a NULL chi2 (no
    # discordant pairs) yields NULL p, not least(NULL, 1.0) = 1.0
    p = F.when(chi.isNotNull(),
               F.round(F.least(_erfc_as(F.sqrt(chi / 2)),
                               F.lit(1.0)), 9))
    return agg.select(
        F.col("_n").alias("n"), F.col("_nb").alias("n_both"),
        F.col("_n01").alias("n_only_a"), F.col("_n10").alias("n_only_b"),
        F.col("_nn").alias("n_neither"),
        F.round(chi, 6).alias("chi2"),
        F.round(p, 6).alias("p_value"))


def concordance_ccc(
    df: DataFrame,
    x_col,
    y_col,
    value_scale: int = 2,
) -> DataFrame:
    """Lin's concordance correlation coefficient — AGREEMENT between two
    same-scale measurements (Pearson r measures linearity; CCC also
    punishes scale and location bias — the metric for "does the cheap
    proxy reproduce the expensive measurement?"):

        CCC = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²)   (population moments)

    Scale design: ONE aggregate of exact decimal sufficient statistics
    at ``value_scale`` (the Welch recipe: natural-scale sums,
    :func:`_split_cast` to double); CCC / Pearson r / the bias factor
    are terminal fixed-order doubles.  Returns one row:
    (n, mean_x, mean_y, pearson_r, bias_factor, ccc)."""
    xs = F.col(x_col) if isinstance(x_col, str) else x_col
    ys = F.col(y_col) if isinstance(y_col, str) else y_col
    s, s2 = value_scale, value_scale * 2
    x, y = xs.cast("double"), ys.cast("double")
    # exact decimal products — never ROUND(x*y, 2s) of a double
    xd = F.round(x, s).cast(f"decimal(18,{s})")
    yd = F.round(y, s).cast(f"decimal(18,{s})")
    # r12: the null exclusion is a CONDITION inside the one aggregate,
    # not a Filter — with a derived y (e.g. 6·token-count) the Filter
    # evaluated the expensive expression once per row on top of the
    # aggregate's own evaluation, and Filter/Aggregate are separate
    # codegen contexts (no cross-operator subexpression elimination),
    # while aggregate inputs share one CSE'd evaluation.  Conditional
    # sums/count skip exactly the same rows.
    cond = x.isNotNull() & y.isNotNull()
    w_ = lambda e: F.when(cond, e)  # noqa: E731
    agg = df.agg(
        F.count(w_(F.lit(1))).cast("bigint").alias("_n"),
        F.sum(w_(xd)).cast(f"decimal(38,{s})").alias("_sx"),
        F.sum(w_(yd)).cast(f"decimal(38,{s})").alias("_sy"),
        F.sum(w_((xd * xd).cast(f"decimal(38,{s2})"))).alias("_sxx"),
        F.sum(w_((yd * yd).cast(f"decimal(38,{s2})"))).alias("_syy"),
        F.sum(w_((xd * yd).cast(f"decimal(38,{s2})"))).alias("_sxy"))
    nd = F.col("_n").cast("double")
    sx, sy = _split_cast(F.col("_sx")), _split_cast(F.col("_sy"))
    sxx, syy = _split_cast(F.col("_sxx")), _split_cast(F.col("_syy"))
    sxy = _split_cast(F.col("_sxy"))
    mx, my = sx / nd, sy / nd
    vx = sxx / nd - mx * mx
    vy = syy / nd - my * my
    cov = sxy / nd - mx * my
    # degenerate contract (r8 ADVICE): two constant, equal columns make
    # the denominator 0 -> CCC is NULL by contract, not 0/0 NaN
    ccc_den = vx + vy + (mx - my) * (mx - my)
    ccc = F.when(ccc_den > 0, F.lit(2.0) * cov / ccc_den)
    r = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx) / F.sqrt(vy))
    return agg.select(
        F.col("_n").alias("n"),
        F.round(mx, 6).alias("mean_x"), F.round(my, 6).alias("mean_y"),
        F.round(r, 6).alias("pearson_r"),
        F.round(F.when(r.isNotNull() & (F.abs(r) > 0), ccc / r), 6)
        .alias("bias_factor"),
        F.round(ccc, 6).alias("ccc"))


def cuped_adjust(
    df: DataFrame,
    group_col: str,
    x_col,
    y_col,
    group_a: str,
    group_b: str,
    value_scale: int = 2,
) -> DataFrame:
    """CUPED variance reduction for experiment readouts (Deng et al. 2013,
    "Improving the Sensitivity of Online Controlled Experiments by
    Utilizing Pre-Experiment Data") — the standard tool the SRM /
    two-proportion / bootstrap family was missing: shrink metric variance
    with a pre-period covariate so the same experiment detects smaller
    effects.

        θ  = cov(X, Y) / var(X)      (POOLED population moments)
        Ŷᵢ = Yᵢ − θ·(Xᵢ − X̄)
        varŶ = varY·(1 − ρ²)  ⇒  variance_reduction_pct = 100·ρ²

    The adjusted arm difference is tested with a Welch-style z from
    per-arm SAMPLE variances of Ŷ (NULL when an arm has <2 units or the
    pooled var(X) is 0 — no covariate signal, nothing to adjust).

    Scale design: ONE conditional-sum scan of exact decimal sufficient
    statistics per arm (the CCC recipe — ``value_scale``-dp decimal
    values, exact double-scale decimal products, :func:`_split_cast` to
    double); θ, the adjusted means, variances, z and the A&S-erfc
    p-value are terminal fixed-order doubles.  Returns one row:
    (n_a, n_b, theta, mean_y_a, mean_y_b, adj_mean_a, adj_mean_b,
    diff_raw, diff_adj, var_reduction_pct, z, p_value).
    """
    s, s2 = value_scale, value_scale * 2
    xs = F.col(x_col) if isinstance(x_col, str) else x_col
    ys = F.col(y_col) if isinstance(y_col, str) else y_col
    xd = F.round(xs.cast("double"), s).cast(f"decimal(18,{s})")
    yd = F.round(ys.cast("double"), s).cast(f"decimal(18,{s})")
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    base = df.filter((in_a | in_b) & xs.isNotNull() & ys.isNotNull())

    def arm(g, tag):
        return [
            F.sum(F.when(g, 1).otherwise(0)).cast("bigint")
            .alias(f"_n{tag}"),
            F.sum(F.when(g, xd)).cast(f"decimal(38,{s})")
            .alias(f"_sx{tag}"),
            F.sum(F.when(g, yd)).cast(f"decimal(38,{s})")
            .alias(f"_sy{tag}"),
            F.sum(F.when(g, (xd * xd).cast(f"decimal(38,{s2})")))
            .cast(f"decimal(38,{s2})").alias(f"_sxx{tag}"),
            F.sum(F.when(g, (yd * yd).cast(f"decimal(38,{s2})")))
            .cast(f"decimal(38,{s2})").alias(f"_syy{tag}"),
            F.sum(F.when(g, (xd * yd).cast(f"decimal(38,{s2})")))
            .cast(f"decimal(38,{s2})").alias(f"_sxy{tag}"),
        ]

    agg = base.agg(*arm(in_a, "a"), *arm(in_b, "b"))
    # The statistics are STAGED through selects with named intermediates
    # (r10 verdict item 2): assembling everything in one terminal Project
    # re-inlined each _split_cast CASE expansion into every consumer and
    # the generated project_doConsume exceeded Janino's 64KB method limit
    # ("Code grows beyond 64 KB"), forcing interpreted fallback on every
    # executor.  Each stage below is a small codegen unit; the aliased
    # non-cheap expressions are multiply-referenced downstream, which
    # stops CollapseProject from re-merging the projections.  The IEEE
    # operation order per statistic is UNCHANGED, so results stay
    # bit-identical to the single-projection form (and the SQL twin).
    nad = F.col("_na").cast("double")
    nbd = F.col("_nb").cast("double")
    # stage 1: every decimal sum split-cast ONCE into a named double
    # (pooled sums add exactly in decimal first)
    s1 = agg.select(
        F.col("_na").alias("n_a"), F.col("_nb").alias("n_b"),
        nad.alias("_nad"), nbd.alias("_nbd"), (nad + nbd).alias("_nd"),
        _split_cast(F.col("_sxa") + F.col("_sxb")).alias("_sx"),
        _split_cast(F.col("_sya") + F.col("_syb")).alias("_sy"),
        _split_cast(F.col("_sxxa") + F.col("_sxxb")).alias("_sxx"),
        _split_cast(F.col("_syya") + F.col("_syyb")).alias("_syy"),
        _split_cast(F.col("_sxya") + F.col("_sxyb")).alias("_sxy"),
        _split_cast(F.col("_sxa")).alias("_dsxa"),
        _split_cast(F.col("_sya")).alias("_dsya"),
        _split_cast(F.col("_sxb")).alias("_dsxb"),
        _split_cast(F.col("_syb")).alias("_dsyb"),
        _split_cast(F.col("_sxxa")).alias("_dsxxa"),
        _split_cast(F.col("_syya")).alias("_dsyya"),
        _split_cast(F.col("_sxxb")).alias("_dsxxb"),
        _split_cast(F.col("_syyb")).alias("_dsyyb"),
        _split_cast(F.col("_sxya")).alias("_dsxya"),
        _split_cast(F.col("_sxyb")).alias("_dsxyb"))
    # stage 2: pooled moments, per-arm means/offsets, centered sums
    nad, nbd, nd = F.col("_nad"), F.col("_nbd"), F.col("_nd")
    sx, sy = F.col("_sx"), F.col("_sy")
    mx = sx / nd
    sxa, sya = F.col("_dsxa"), F.col("_dsya")
    sxb, syb = F.col("_dsxb"), F.col("_dsyb")
    s2 = s1.select(
        "n_a", "n_b", "_nad", "_nbd",
        (F.col("_sxx") / nd - mx * mx).alias("_vx"),
        (F.col("_syy") / nd - (sy / nd) * (sy / nd)).alias("_vy"),
        (F.col("_sxy") / nd - mx * (sy / nd)).alias("_cov"),
        (sya / nad).alias("_mya"), (syb / nbd).alias("_myb"),
        (sxa / nad - mx).alias("_dxa"), (sxb / nbd - mx).alias("_dxb"),
        (F.col("_dsyya") - sya * sya / nad).alias("_ssy_a"),
        (F.col("_dsxxa") - sxa * sxa / nad).alias("_ssx_a"),
        (F.col("_dsxya") - sxa * sya / nad).alias("_ssxy_a"),
        (F.col("_dsyyb") - syb * syb / nbd).alias("_ssy_b"),
        (F.col("_dsxxb") - sxb * sxb / nbd).alias("_ssx_b"),
        (F.col("_dsxyb") - sxb * syb / nbd).alias("_ssxy_b"))
    # stage 3: θ and ρ² from the named moments
    vx, vy, cov = F.col("_vx"), F.col("_vy"), F.col("_cov")
    s3 = s2.select(
        "n_a", "n_b", "_nad", "_nbd", "_mya", "_myb", "_dxa", "_dxb",
        "_ssy_a", "_ssx_a", "_ssxy_a", "_ssy_b", "_ssx_b", "_ssxy_b",
        F.when(vx > 0, cov / vx).alias("_theta"),
        F.when((vx > 0) & (vy > 0),
               cov * cov / (vx * vy)).alias("_rho2"))
    # stage 4: adjusted means + adjusted centered sums of squares
    theta = F.col("_theta")
    s4 = s3.select(
        "n_a", "n_b", "_nad", "_nbd", "_mya", "_myb", "_theta", "_rho2",
        (F.col("_mya") - theta * F.col("_dxa")).alias("_adj_a"),
        (F.col("_myb") - theta * F.col("_dxb")).alias("_adj_b"),
        F.greatest(
            F.col("_ssy_a") - F.lit(2.0) * theta * F.col("_ssxy_a")
            + theta * theta * F.col("_ssx_a"), F.lit(0.0))
        .alias("_ssadj_a"),
        F.greatest(
            F.col("_ssy_b") - F.lit(2.0) * theta * F.col("_ssxy_b")
            + theta * theta * F.col("_ssx_b"), F.lit(0.0))
        .alias("_ssadj_b"))
    # stage 5: Welch SE from per-arm sample variances of Ŷ
    nad, nbd = F.col("_nad"), F.col("_nbd")
    var_a = F.when(F.col("n_a") > 1, F.col("_ssadj_a") / (nad - F.lit(1.0)))
    var_b = F.when(F.col("n_b") > 1, F.col("_ssadj_b") / (nbd - F.lit(1.0)))
    s5 = s4.select(
        "n_a", "n_b", "_mya", "_myb", "_theta", "_rho2", "_adj_a", "_adj_b",
        F.sqrt(var_a / nad + var_b / nbd).alias("_se"))
    # stage 6: z
    se = F.col("_se")
    s6 = s5.select(
        "n_a", "n_b", "_mya", "_myb", "_theta", "_rho2", "_adj_a", "_adj_b",
        F.when(se > 0, (F.col("_adj_a") - F.col("_adj_b")) / se).alias("_z"))
    # stage 7: p-value + output rounding
    z = F.col("_z")
    p = F.when(z.isNotNull(),
               F.round(F.least(_erfc_as(F.abs(z) / F.sqrt(F.lit(2.0))),
                               F.lit(1.0)), 9))
    return s6.select(
        "n_a", "n_b",
        F.round(F.col("_theta"), 6).alias("theta"),
        F.round(F.col("_mya"), 6).alias("mean_y_a"),
        F.round(F.col("_myb"), 6).alias("mean_y_b"),
        F.round(F.col("_adj_a"), 6).alias("adj_mean_a"),
        F.round(F.col("_adj_b"), 6).alias("adj_mean_b"),
        F.round(F.col("_mya") - F.col("_myb"), 6).alias("diff_raw"),
        F.round(F.col("_adj_a") - F.col("_adj_b"), 6).alias("diff_adj"),
        F.round(F.lit(100.0) * F.col("_rho2"), 6).alias("var_reduction_pct"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p_value"))


def diff_in_diff(
    df: DataFrame,
    group_col: str,
    period_col: str,
    y_col,
    group_treat: str,
    group_control: str,
    period_pre: str,
    period_post: str,
    value_scale: int = 2,
    segment_col: str | None = None,
) -> DataFrame:
    """Difference-in-differences readout (Card & Krueger 1994 design; the
    standard quasi-experimental estimator for STAGED rollouts where
    randomized assignment isn't available — the experimentation battery's
    complement to :func:`cuped_adjust`, which needs a randomized A/B):

        DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_control,post − ȳ_control,pre)

    i.e. the treatment-group shift net of the secular trend the control
    group experienced.  Inference is the standard 4-cell large-sample z
    (the 2×2 interaction contrast): SE² = Σ_cell s²_cell/n_cell over
    SAMPLE variances, two-sided p from A&S erfc (NULL when any cell has
    <2 units — no variance evidence).  Parallel-trends is the identifying
    ASSUMPTION, not something the estimator can test; callers with >2
    periods should plot pre-period diffs first.

    Scale design (the CCC/CUPED recipe): ONE conditional exact-decimal
    aggregate computes n, Σy, Σy² for the four (group, period) cells —
    map-side combined, partition-order invariant; the estimate/SE/z/p
    assemble from 12 numbers through staged fixed-order selects (each a
    small codegen unit — the r11 Janino-64KB discipline), so a SQL twin
    reproduces every double bit-for-bit.  Rows outside the two groups or
    two periods are ignored.  Returns one row:
    (n_treat_pre, n_treat_post, n_control_pre, n_control_post,
    mean_treat_pre, mean_treat_post, mean_control_pre, mean_control_post,
    diff_treat, diff_control, did, z, p_value).

    ``segment_col`` turns the readout into a HETEROGENEOUS-effect table:
    one independent DiD row per segment value (sorted), each estimated
    from that segment's own 4 cells — the "which cohort actually moved"
    question every rollout readout ends with.  Scale: the global
    aggregate becomes ONE segment-keyed hash aggregate (map-side
    combined); the staged statistics stay per-row projections, so the
    plan is a single shuffle at any segment cardinality."""
    s, s2 = value_scale, value_scale * 2
    ys = F.col(y_col) if isinstance(y_col, str) else y_col
    yd = F.round(ys.cast("double"), s).cast(f"decimal(18,{s})")
    cells = {
        "t0": (F.col(group_col) == group_treat)
        & (F.col(period_col) == period_pre),
        "t1": (F.col(group_col) == group_treat)
        & (F.col(period_col) == period_post),
        "c0": (F.col(group_col) == group_control)
        & (F.col(period_col) == period_pre),
        "c1": (F.col(group_col) == group_control)
        & (F.col(period_col) == period_post),
    }
    base = df.filter(ys.isNotNull()
                     & F.col(group_col).isin(group_treat, group_control)
                     & F.col(period_col).isin(period_pre, period_post))
    aggs = []
    for tag, g in cells.items():
        aggs += [
            F.sum(F.when(g, 1).otherwise(0)).cast("bigint")
            .alias(f"_n{tag}"),
            F.sum(F.when(g, yd)).cast(f"decimal(38,{s})")
            .alias(f"_sy{tag}"),
            F.sum(F.when(g, (yd * yd).cast(f"decimal(38,{s2})")))
            .cast(f"decimal(38,{s2})").alias(f"_syy{tag}"),
        ]
    if segment_col is None:
        agg = base.agg(*aggs)
        keys: list[str] = []
    else:
        agg = base.groupBy(F.col(segment_col).alias("segment")).agg(*aggs)
        keys = ["segment"]
    # stage 1: counts as doubles + every decimal sum split-cast ONCE
    s1 = agg.select(
        *keys,
        *[F.col(f"_n{t}").alias(f"n_{t}") for t in cells],
        *[F.col(f"_n{t}").cast("double").alias(f"_nd{t}") for t in cells],
        *[_split_cast(F.col(f"_sy{t}")).alias(f"_dsy{t}") for t in cells],
        *[_split_cast(F.col(f"_syy{t}")).alias(f"_dsyy{t}") for t in cells])
    # stage 2: per-cell means + centered sums of squares
    s2_cols = []
    for t in cells:
        nd, sy, syy = (F.col(f"_nd{t}"), F.col(f"_dsy{t}"),
                       F.col(f"_dsyy{t}"))
        s2_cols.append((sy / nd).alias(f"_m{t}"))
        s2_cols.append((syy - sy * sy / nd).alias(f"_ss{t}"))
    s2f = s1.select(
        *keys,
        *[f"n_{t}" for t in cells], *[f"_nd{t}" for t in cells], *s2_cols)
    # stage 3: arm diffs, DiD, per-cell sample variances
    s3 = s2f.select(
        *keys,
        *[f"n_{t}" for t in cells], *[f"_nd{t}" for t in cells],
        *[f"_m{t}" for t in cells],
        (F.col("_mt1") - F.col("_mt0")).alias("_diff_t"),
        (F.col("_mc1") - F.col("_mc0")).alias("_diff_c"),
        *[F.when(F.col(f"n_{t}") > 1,
                 F.greatest(F.col(f"_ss{t}"), F.lit(0.0))
                 / (F.col(f"_nd{t}") - F.lit(1.0))).alias(f"_var{t}")
          for t in cells])
    # stage 4: DiD + Welch-style SE over the four cells
    se = F.sqrt(F.col("_vart0") / F.col("_ndt0")
                + F.col("_vart1") / F.col("_ndt1")
                + F.col("_varc0") / F.col("_ndc0")
                + F.col("_varc1") / F.col("_ndc1"))
    s4 = s3.select(
        *keys,
        *[f"n_{t}" for t in cells], *[f"_m{t}" for t in cells],
        "_diff_t", "_diff_c",
        (F.col("_diff_t") - F.col("_diff_c")).alias("_did"),
        se.alias("_se"))
    # stage 5: z
    s5 = s4.select(
        *keys,
        *[f"n_{t}" for t in cells], *[f"_m{t}" for t in cells],
        "_diff_t", "_diff_c", "_did",
        F.when(F.col("_se") > 0, F.col("_did") / F.col("_se")).alias("_z"))
    # stage 6: p-value + output rounding
    z = F.col("_z")
    p = F.when(z.isNotNull(),
               F.round(F.least(_erfc_as(F.abs(z) / F.sqrt(F.lit(2.0))),
                               F.lit(1.0)), 9))
    out = s5.select(
        *keys,
        F.col("n_t0").alias("n_treat_pre"),
        F.col("n_t1").alias("n_treat_post"),
        F.col("n_c0").alias("n_control_pre"),
        F.col("n_c1").alias("n_control_post"),
        F.round(F.col("_mt0"), 6).alias("mean_treat_pre"),
        F.round(F.col("_mt1"), 6).alias("mean_treat_post"),
        F.round(F.col("_mc0"), 6).alias("mean_control_pre"),
        F.round(F.col("_mc1"), 6).alias("mean_control_post"),
        F.round(F.col("_diff_t"), 6).alias("diff_treat"),
        F.round(F.col("_diff_c"), 6).alias("diff_control"),
        F.round(F.col("_did"), 6).alias("did"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p_value"))
    return out.orderBy("segment") if keys else out


#: two-sided normal quantiles z_{1-alpha/2} for the supported alpha grid.
#: Literals (not a CDF inversion) so the Spark plan and the DuckDB oracle
#: share them bit-for-bit; arbitrary alpha would need an inverse-normal
#: approximation the SQL twin cannot mirror exactly.
_Z_TWO_SIDED = {
    0.01: 2.5758293035489004,
    0.05: 1.9599639845400545,
    0.10: 1.6448536269514722,
}

#: one-sided normal quantiles z_{power} for the supported power grid.
_Z_POWER = {
    0.80: 0.8416212335729143,
    0.90: 1.2815515655446004,
    0.95: 1.6448536269514722,
}


def power_mde(
    df: DataFrame,
    group_col: str,
    y_col,
    group_a: str,
    group_b: str,
    alpha: float = 0.05,
    power: float = 0.80,
    target_rel_effect: float = 0.10,
    value_scale: int = 2,
) -> DataFrame:
    """Experiment power / minimum-detectable-effect analysis — the
    PLANNING half of the A/B family (SRM gates health, CUPED/DiD read
    results; this answers "is the test big enough?").  Standard two-sample
    normal-approximation design formulas (e.g. Kohavi et al., "Trustworthy
    Online Controlled Experiments", ch. 17):

        MDE_abs = (z_{1-α/2} + z_{power}) · SE,
                  SE = sqrt(s²_a/n_a + s²_b/n_b)
        n_req   = ceil( (z_{1-α/2}+z_{power})² · (s²_a+s²_b) / δ² )
                  per arm, δ = target_rel_effect · |mean_b|

    ``group_b`` is the control arm: relative effects are expressed against
    its mean.  ``alpha`` ∈ {0.01, 0.05, 0.10} and ``power`` ∈ {0.80, 0.90,
    0.95} by contract — the quantiles are shared literals (see
    ``_Z_TWO_SIDED``), not a CDF inversion.  NULL contract: variance terms
    need n ≥ 2 per arm; relative outputs need mean_b ≠ 0.

    Scale design: ONE conditional exact-decimal aggregate over the unit
    frame (the CUPED/DiD CCC recipe — ``value_scale``-dp decimal values,
    exact double-scale decimal squares, :func:`_split_cast` to double);
    everything after is fixed-order double arithmetic on one row.  The
    formula uses only +,*,/ and IEEE-exact sqrt — no libm transcendentals
    — so even ``ceil(n_req)`` is bit-identical across engines.  Returns
    one row: (n_a, n_b, mean_a, mean_b, var_a, var_b, se, mde_abs,
    mde_rel_pct, target_rel_effect_pct, n_per_arm_required)."""
    if alpha not in _Z_TWO_SIDED:
        raise ValueError(f"unsupported alpha {alpha!r}: "
                         f"choose from {sorted(_Z_TWO_SIDED)}")
    if power not in _Z_POWER:
        raise ValueError(f"unsupported power {power!r}: "
                         f"choose from {sorted(_Z_POWER)}")
    s, s2 = value_scale, value_scale * 2
    ys = F.col(y_col) if isinstance(y_col, str) else y_col
    yd = F.round(ys.cast("double"), s).cast(f"decimal(18,{s})")
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    base = df.filter((in_a | in_b) & ys.isNotNull())

    def arm(g, tag):
        return [
            F.sum(F.when(g, 1).otherwise(0)).cast("bigint")
            .alias(f"_n{tag}"),
            F.sum(F.when(g, yd)).cast(f"decimal(38,{s})")
            .alias(f"_sy{tag}"),
            F.sum(F.when(g, (yd * yd).cast(f"decimal(38,{s2})")))
            .cast(f"decimal(38,{s2})").alias(f"_syy{tag}"),
        ]

    agg = base.agg(*arm(in_a, "a"), *arm(in_b, "b"))
    # staged selects (the cuped_adjust Janino discipline): each stage is a
    # small codegen unit with named multiply-referenced intermediates
    nad = F.col("_na").cast("double")
    nbd = F.col("_nb").cast("double")
    s1 = agg.select(
        F.col("_na").alias("n_a"), F.col("_nb").alias("n_b"),
        nad.alias("_nad"), nbd.alias("_nbd"),
        _split_cast(F.col("_sya")).alias("_dsya"),
        _split_cast(F.col("_syb")).alias("_dsyb"),
        _split_cast(F.col("_syya")).alias("_dsyya"),
        _split_cast(F.col("_syyb")).alias("_dsyyb"))
    nad, nbd = F.col("_nad"), F.col("_nbd")
    s2_ = s1.select(
        "n_a", "n_b", "_nad", "_nbd",
        (F.col("_dsya") / nad).alias("_ma"),
        (F.col("_dsyb") / nbd).alias("_mb"),
        F.when(F.col("n_a") > 1, F.greatest(
            F.col("_dsyya") - F.col("_dsya") * F.col("_dsya") / nad,
            F.lit(0.0)) / (nad - F.lit(1.0))).alias("_va"),
        F.when(F.col("n_b") > 1, F.greatest(
            F.col("_dsyyb") - F.col("_dsyb") * F.col("_dsyb") / nbd,
            F.lit(0.0)) / (nbd - F.lit(1.0))).alias("_vb"))
    zsum = F.lit(_Z_TWO_SIDED[alpha] + _Z_POWER[power])
    se = F.sqrt(F.col("_va") / nad + F.col("_vb") / nbd)
    s3 = s2_.select(
        "n_a", "n_b", "_ma", "_mb", "_va", "_vb",
        se.alias("_se"),
        (zsum * se).alias("_mde_abs"),
        F.when(F.col("_mb") != 0,
               F.lit(float(target_rel_effect)) * F.abs(F.col("_mb")))
        .alias("_delta"))
    nreq = F.when(
        F.col("_delta").isNotNull() & F.col("_va").isNotNull()
        & F.col("_vb").isNotNull(),
        F.ceil(zsum * zsum * (F.col("_va") + F.col("_vb"))
               / (F.col("_delta") * F.col("_delta"))).cast("bigint"))
    return s3.select(
        "n_a", "n_b",
        F.round(F.col("_ma"), 6).alias("mean_a"),
        F.round(F.col("_mb"), 6).alias("mean_b"),
        F.round(F.col("_va"), 6).alias("var_a"),
        F.round(F.col("_vb"), 6).alias("var_b"),
        F.round(F.col("_se"), 6).alias("se"),
        F.round(F.col("_mde_abs"), 6).alias("mde_abs"),
        F.when(F.col("_mb") != 0,
               F.round(F.lit(100.0) * F.col("_mde_abs")
                       / F.abs(F.col("_mb")), 6)).alias("mde_rel_pct"),
        F.lit(round(target_rel_effect * 100.0, 6))
        .alias("target_rel_effect_pct"),
        nreq.alias("n_per_arm_required"))


def msprt_always_valid(
    df: DataFrame,
    group_col: str,
    time_col,
    y_col,
    group_a: str,
    group_b: str,
    tau: float,
    value_scale: int = 2,
) -> DataFrame:
    """Mixture sequential probability ratio test (mSPRT) with always-valid
    p-values — the CONTINUOUS-MONITORING member of the A/B family (Johari,
    Koomen, Pekelis & Walsh 2017, "Peeking at A/B Tests"): fixed-horizon
    z/t readouts are only valid at one pre-committed look, while the mSPRT
    p-value sequence is valid at EVERY look, so dashboards that refresh
    daily can stop early without inflating false positives.

    Per time bucket t (cumulative over buckets ≤ t), with θ̂ the mean
    difference, V its squared standard error, and a N(0, τ²) mixing prior:

        log Λ_t = ½·ln( V / (V+τ²) ) + θ̂²·τ² / (2·V·(V+τ²))
        p_t     = min(1, exp(−max_{s≤t} log Λ_s))   (non-increasing)

    ``tau`` sets the prior scale of detectable effects (a reasonable
    default is the MDE you designed for — see :func:`power_mde`).

    Scale design: the raw table feeds ONE (bucket)-keyed conditional
    exact-decimal aggregate (per-arm n/Σy/Σy² per bucket — map-side
    combined, one shuffle); the cumulative statistics run as plain windows
    over the BUCKET GRID, which is bounded by the calendar horizon
    (O(days) rows — the events_anomaly/seasonal family's documented
    bounded-frame window shape, not a data-scaled one).  log-space Λ
    avoids exp overflow as evidence accumulates (Λ grows without bound;
    log Λ does so slowly and p = exp(−runmax) underflows gracefully to 0).
    NULL contract: buckets before both arms have n ≥ 2 and pooled
    variance > 0 report NULL log_lambda; the running max skips NULLs, so
    p stays 1 until evidence exists.  Rows with a NULL time bucket are
    DROPPED (an un-bucketed observation has no position in the look
    sequence, and Spark's NULLS FIRST vs SQL engines' NULLS LAST ordering
    would otherwise make the cumulative sequence engine-dependent).
    Returns one row per bucket: (bucket, n_a, n_b, theta, log_lambda,
    p_always_valid, reject_at_05)."""
    from pyspark.sql.window import Window

    s, s2 = value_scale, value_scale * 2
    ys = F.col(y_col) if isinstance(y_col, str) else y_col
    tc = F.col(time_col) if isinstance(time_col, str) else time_col
    yd = F.round(ys.cast("double"), s).cast(f"decimal(18,{s})")
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    base = df.filter(
        (in_a | in_b) & ys.isNotNull() & tc.isNotNull()
    ).select(tc.alias("bucket"), in_a.alias("_ia"), yd.alias("_y"))

    def arm(g, tag):
        return [
            F.sum(F.when(g, 1).otherwise(0)).cast("bigint")
            .alias(f"_bn{tag}"),
            F.sum(F.when(g, F.col("_y"))).cast(f"decimal(38,{s})")
            .alias(f"_bsy{tag}"),
            F.sum(F.when(g, (F.col("_y") * F.col("_y"))
                         .cast(f"decimal(38,{s2})")))
            .cast(f"decimal(38,{s2})").alias(f"_bsyy{tag}"),
        ]

    daily = base.groupBy("bucket").agg(*arm(F.col("_ia"), "a"),
                                       *arm(~F.col("_ia"), "b"))
    # cumulative sufficient statistics over the bounded bucket grid —
    # decimal sums stay EXACT through the window, split-cast after
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "bucket",
        F.sum("_bna").over(w).alias("_cna"),
        F.sum("_bnb").over(w).alias("_cnb"),
        F.sum("_bsya").over(w).cast(f"decimal(38,{s})").alias("_csya"),
        F.sum("_bsyb").over(w).cast(f"decimal(38,{s})").alias("_csyb"),
        F.sum("_bsyya").over(w).cast(f"decimal(38,{s2})").alias("_csyya"),
        F.sum("_bsyyb").over(w).cast(f"decimal(38,{s2})").alias("_csyyb"))
    nad = F.col("_cna").cast("double")
    nbd = F.col("_cnb").cast("double")
    s1 = cum.select(
        "bucket", F.col("_cna").alias("n_a"), F.col("_cnb").alias("n_b"),
        nad.alias("_nad"), nbd.alias("_nbd"),
        _split_cast(F.col("_csya")).alias("_dsya"),
        _split_cast(F.col("_csyb")).alias("_dsyb"),
        _split_cast(F.col("_csyya")).alias("_dsyya"),
        _split_cast(F.col("_csyyb")).alias("_dsyyb"))
    nad, nbd = F.col("_nad"), F.col("_nbd")
    s2_ = s1.select(
        "bucket", "n_a", "n_b", "_nad", "_nbd",
        (F.col("_dsya") / nad - F.col("_dsyb") / nbd).alias("_theta"),
        F.when(
            (F.col("n_a") > 1) & (F.col("n_b") > 1),
            (F.greatest(F.col("_dsyya")
                        - F.col("_dsya") * F.col("_dsya") / nad, F.lit(0.0))
             + F.greatest(F.col("_dsyyb")
                          - F.col("_dsyb") * F.col("_dsyb") / nbd,
                          F.lit(0.0)))
            / (nad + nbd - F.lit(2.0))).alias("_pvar"))
    v = F.when(F.col("_pvar") > 0,
               F.col("_pvar") * (F.lit(1.0) / nad + F.lit(1.0) / nbd))
    t2 = F.lit(float(tau) * float(tau))
    s3 = s2_.select(
        "bucket", "n_a", "n_b", "_theta", v.alias("_v"))
    vv = F.col("_v")
    log_lambda = (
        F.lit(0.5) * F.log(vv / (vv + t2))
        + F.col("_theta") * F.col("_theta") * t2
        / (F.lit(2.0) * vv * (vv + t2)))
    s4 = s3.select("bucket", "n_a", "n_b", "_theta",
                   log_lambda.alias("_ll"))
    runmax = F.max("_ll").over(w)  # max-over ignores NULLs in both engines
    s5 = s4.select(
        "bucket", "n_a", "n_b", "_theta", "_ll",
        F.when(runmax.isNotNull(),
               F.least(F.exp(-F.greatest(runmax, F.lit(0.0))), F.lit(1.0)))
        .otherwise(F.lit(1.0)).alias("_p"))
    return s5.select(
        "bucket", "n_a", "n_b",
        F.round(F.col("_theta"), 6).alias("theta"),
        F.round(F.col("_ll"), 6).alias("log_lambda"),
        F.round(F.col("_p"), 9).alias("p_always_valid"),
        (F.col("_p") < 0.05).alias("reject_at_05"))


def ratio_metric_delta(
    df: DataFrame,
    group_col: str,
    num_col,
    den_col,
    group_a: str,
    group_b: str,
    value_scale: int = 2,
) -> DataFrame:
    """Ratio-metric A/B inference via the delta method (Deng, Knoblich &
    Lu 2018, "Applying the Delta Method in Metric Analytics") — the
    missing-by-default tool for metrics that are RATIOS OF SUMS over a
    randomization unit (revenue per session, clicks per view: the unit is
    the user, the metric is Σx_i/Σy_i, and a naive t-test on per-user
    ratios answers a different question while a row-level test ignores
    within-user correlation).  Per arm, with X̄,Ȳ the per-unit means:

        R = X̄/Ȳ,   var(R) ≈ (1/(n·Ȳ²))·( s²_x − 2R·s_xy + R²·s²_y )

    then z = (R_a − R_b)/sqrt(var_a + var_b) with the A&S-erfc p.

    NULL contract: an arm needs n ≥ 2 and Ȳ ≠ 0, and the variance sum
    must be > 0, else ratio/z/p are NULL (reported counts remain).

    Scale design: ONE conditional exact-decimal aggregate over the unit
    frame (n, Σx, Σy, Σx², Σy², Σxy per arm — the CUPED/DiD CCC recipe:
    ``value_scale``-dp decimal values, exact double-scale decimal
    products, :func:`_split_cast` to double), then staged fixed-order
    double selects (the Janino discipline).  Returns one row: (n_a, n_b,
    ratio_a, ratio_b, diff, se, z, p_value)."""
    s, s2 = value_scale, value_scale * 2
    xs = F.col(num_col) if isinstance(num_col, str) else num_col
    ys = F.col(den_col) if isinstance(den_col, str) else den_col
    xd = F.round(xs.cast("double"), s).cast(f"decimal(18,{s})")
    yd = F.round(ys.cast("double"), s).cast(f"decimal(18,{s})")
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    base = df.filter((in_a | in_b) & xs.isNotNull() & ys.isNotNull())

    def arm(g, tag):
        return [
            F.sum(F.when(g, 1).otherwise(0)).cast("bigint")
            .alias(f"_n{tag}"),
            F.sum(F.when(g, xd)).cast(f"decimal(38,{s})")
            .alias(f"_sx{tag}"),
            F.sum(F.when(g, yd)).cast(f"decimal(38,{s})")
            .alias(f"_sy{tag}"),
            F.sum(F.when(g, (xd * xd).cast(f"decimal(38,{s2})")))
            .cast(f"decimal(38,{s2})").alias(f"_sxx{tag}"),
            F.sum(F.when(g, (yd * yd).cast(f"decimal(38,{s2})")))
            .cast(f"decimal(38,{s2})").alias(f"_syy{tag}"),
            F.sum(F.when(g, (xd * yd).cast(f"decimal(38,{s2})")))
            .cast(f"decimal(38,{s2})").alias(f"_sxy{tag}"),
        ]

    agg = base.agg(*arm(in_a, "a"), *arm(in_b, "b"))
    s1 = agg.select(
        F.col("_na").alias("n_a"), F.col("_nb").alias("n_b"),
        F.col("_na").cast("double").alias("_nad"),
        F.col("_nb").cast("double").alias("_nbd"),
        _split_cast(F.col("_sxa")).alias("_dsxa"),
        _split_cast(F.col("_sya")).alias("_dsya"),
        _split_cast(F.col("_sxxa")).alias("_dsxxa"),
        _split_cast(F.col("_syya")).alias("_dsyya"),
        _split_cast(F.col("_sxya")).alias("_dsxya"),
        _split_cast(F.col("_sxb")).alias("_dsxb"),
        _split_cast(F.col("_syb")).alias("_dsyb"),
        _split_cast(F.col("_sxxb")).alias("_dsxxb"),
        _split_cast(F.col("_syyb")).alias("_dsyyb"),
        _split_cast(F.col("_sxyb")).alias("_dsxyb"))

    nad, nbd = F.col("_nad"), F.col("_nbd")
    s2_ = s1.select(
        "n_a", "n_b", "_nad", "_nbd",
        (F.col("_dsxa") / nad).alias("_mxa"),
        (F.col("_dsya") / nad).alias("_mya"),
        (F.col("_dsxb") / nbd).alias("_mxb"),
        (F.col("_dsyb") / nbd).alias("_myb"),
        F.when(F.col("n_a") > 1, F.greatest(
            F.col("_dsxxa") - F.col("_dsxa") * F.col("_dsxa") / nad,
            F.lit(0.0)) / (nad - F.lit(1.0))).alias("_vxa"),
        F.when(F.col("n_a") > 1, F.greatest(
            F.col("_dsyya") - F.col("_dsya") * F.col("_dsya") / nad,
            F.lit(0.0)) / (nad - F.lit(1.0))).alias("_vya"),
        F.when(F.col("n_a") > 1,
               (F.col("_dsxya") - F.col("_dsxa") * F.col("_dsya") / nad)
               / (nad - F.lit(1.0))).alias("_cva"),
        F.when(F.col("n_b") > 1, F.greatest(
            F.col("_dsxxb") - F.col("_dsxb") * F.col("_dsxb") / nbd,
            F.lit(0.0)) / (nbd - F.lit(1.0))).alias("_vxb"),
        F.when(F.col("n_b") > 1, F.greatest(
            F.col("_dsyyb") - F.col("_dsyb") * F.col("_dsyb") / nbd,
            F.lit(0.0)) / (nbd - F.lit(1.0))).alias("_vyb"),
        F.when(F.col("n_b") > 1,
               (F.col("_dsxyb") - F.col("_dsxb") * F.col("_dsyb") / nbd)
               / (nbd - F.lit(1.0))).alias("_cvb"))
    ra = F.when(F.col("_mya") != 0, F.col("_mxa") / F.col("_mya"))
    rb = F.when(F.col("_myb") != 0, F.col("_mxb") / F.col("_myb"))
    s3 = s2_.select(
        "n_a", "n_b", "_nad", "_nbd",
        "_vxa", "_vya", "_cva", "_vxb", "_vyb", "_cvb",
        "_mya", "_myb", ra.alias("_ra"), rb.alias("_rb"))
    # stage the delta variances as NAMED columns (the Janino discipline:
    # the guard and the sqrt both reference them, and an inline form would
    # instantiate each 6-term tree twice in one codegen unit)
    s3v = s3.select(
        "n_a", "n_b", "_ra", "_rb",
        ((F.col("_vxa") - F.lit(2.0) * F.col("_ra") * F.col("_cva")
          + F.col("_ra") * F.col("_ra") * F.col("_vya"))
         / (F.col("_nad") * F.col("_mya") * F.col("_mya"))).alias("_va"),
        ((F.col("_vxb") - F.lit(2.0) * F.col("_rb") * F.col("_cvb")
          + F.col("_rb") * F.col("_rb") * F.col("_vyb"))
         / (F.col("_nbd") * F.col("_myb") * F.col("_myb"))).alias("_vb"))
    s4 = s3v.select(
        "n_a", "n_b", "_ra", "_rb",
        (F.col("_ra") - F.col("_rb")).alias("_diff"),
        F.when(F.col("_va") + F.col("_vb") > 0,
               F.sqrt(F.col("_va") + F.col("_vb"))).alias("_se"))
    z = F.when(F.col("_se").isNotNull(), F.col("_diff") / F.col("_se"))
    s5 = s4.select("n_a", "n_b", "_ra", "_rb", "_diff", "_se",
                   z.alias("_z"))
    zc = F.col("_z")
    p = F.when(zc.isNotNull(),
               F.round(F.least(_erfc_as(F.abs(zc) / F.sqrt(F.lit(2.0))),
                               F.lit(1.0)), 9))
    return s5.select(
        "n_a", "n_b",
        F.round(F.col("_ra"), 6).alias("ratio_a"),
        F.round(F.col("_rb"), 6).alias("ratio_b"),
        F.round(F.col("_diff"), 6).alias("diff"),
        F.round(F.col("_se"), 6).alias("se"),
        F.round(zc, 6).alias("z"),
        F.round(p, 6).alias("p_value"))


def conformal_interval(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key_cols: list[str],
    alpha: float = 0.1,
    train_pct: int = 50,
    cal_pct: int = 25,
    salt: str = "conf",
) -> DataFrame:
    """Split-conformal prediction interval (Vovk et al. 2005; Lei et al.
    2018 JASA) — distribution-free regression intervals with finite-sample
    marginal coverage ≥ 1−α, no model assumptions: fit any point predictor
    on a TRAIN split, take the ⌈(n_cal+1)(1−α)⌉-th smallest absolute
    residual q̂ on a disjoint CALIBRATION split, and ship prediction ± q̂.
    The base predictor here is one-feature OLS (the repo's exact
    normal-equation fit); the guarantee holds for any predictor.

    Determinism: the 3-way split is a pure function of the row key
    (portable md5 bucket in [0,100) — train / calibration / test at
    ``train_pct`` / ``cal_pct`` / rest, retry- and partition-invariant);
    slope/intercept come from round-9 → DECIMAL(38,12) exact sums
    (the ml_linreg rule) rounded at 8 dp; residuals round at 6 dp, so q̂
    — an order STATISTIC, tie-invariant by value — is the same double in
    both engines, and the coverage compare ``r <= q̂`` runs on
    identically-derived doubles.

    Scale design: one map-only split tag; ONE train Gram aggregate whose
    three fitted scalars (n_train, intercept, slope) are collected and
    inlined as literals — as a broadcast 1-row frame the Gram aggregate
    re-executed per consumer, i.e. two full train-split scans (r12); q̂ by
    :func:`kth_smallest_scalable` histogram refinement (O(log) aggregate
    rounds, constant executor state — never a global residual sort) whose
    stats pass is shared with the n_cal count; one test-split coverage
    aggregate.  Driver-side state is a handful of bounded scalars
    (coefficients, n_cal, q̂), the same contract as `table.kth_smallest`.
    Returns ONE row: (n_train, n_cal, n_test, intercept, slope, qhat,
    n_covered, coverage).  Requires a non-empty calibration split."""
    import math

    from .text import base_hash32

    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    b = (base_hash32(F.concat_ws(
        "#", *[F.col(c).cast("string") for c in key_cols], F.lit(salt)))
        % 100)
    # Persist the narrow (x, y, bucket) projection ONCE: the train fit,
    # the calibration-residual materialization and the test coverage
    # aggregate are three separate actions, and each otherwise re-runs
    # scan + (caller's repartition) + the md5 split tag over the full
    # table (r12, guide §5: reused + expensive to recompute; this is
    # 2 doubles + 1 int per row, a small fraction of the source table).
    tagged = df.select(x.alias("_x"), y.alias("_y"), b.alias("_b")).persist()

    def _dsum9(col):
        return (F.sum(F.round(col, 9).cast("decimal(38,12)"))
                .cast("double"))

    xs, ys = F.col("_x"), F.col("_y")
    s = (tagged.filter(F.col("_b") < train_pct)
         .agg(F.count(F.lit(1)).cast("double").alias("_n"),
              _dsum9(xs).alias("_sx"), _dsum9(ys).alias("_sy"),
              _dsum9(xs * xs).alias("_sxx"), _dsum9(xs * ys).alias("_sxy")))
    b1 = F.round(
        (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
        / (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")), 8)
    # b0 uses the ROUNDED slope (same order of ops as the SQL twin)
    c = (s.select("_n", "_sx", "_sy", b1.alias("_b1"))
         .select(F.col("_n").cast("bigint").alias("n_train"),
                 F.round((F.col("_sy") - F.col("_b1") * F.col("_sx"))
                         / F.col("_n"), 8).alias("_b0"),
                 F.col("_b1")))

    # The fit is THREE bounded scalars (n_train, intercept, slope) — collect
    # them once and inline as literals.  As a broadcast 1-row frame the
    # train Gram aggregate executed once per consumer (calibration AND
    # test/coverage passes = two full train-split scans); a 3-scalar
    # collect is the same driver load as the broadcast build and halves
    # the train scans (r12, guide §2.4/§5).
    crow = c.collect()[0]
    n_train, b0_v, b1_v = int(crow.n_train), crow._b0, crow._b1
    resid = F.round(F.abs(F.col("_y")
                          - (F.lit(b0_v) + F.lit(b1_v) * F.col("_x"))), 6)
    # Materialize the calibration residual column once: the histogram
    # refinement re-reads its input every round, and the residual is a
    # computed column (no scan pushdown to win back) — at any scale this
    # is ONE double per calibration row, the cheapest thing in the job.
    cal = (tagged.filter((F.col("_b") >= train_pct)
                         & (F.col("_b") < train_pct + cal_pct))
           .select(resid.alias("_r"))
           .persist())
    try:
        # one stats pass feeds BOTH the rank k (needs n_cal) and the
        # histogram refinement's count/min/max (pre_stats) — previously a
        # count() and a stats aggregate ran back to back over cal (r12)
        st = cal.agg(F.count("_r").alias("n"), F.min("_r").alias("lo"),
                     F.max("_r").alias("hi")).collect()[0]
        n_cal = int(st.n)
        k = int(math.ceil(round((n_cal + 1) * (1.0 - alpha), 9)))
        qhat = kth_smallest_scalable(cal, "_r", min(k, n_cal),
                                     final_limit=20_000,
                                     pre_stats=(st.n, st.lo, st.hi))
    finally:
        cal.unpersist()

    # Run the coverage aggregate eagerly (2 more bounded scalars) while
    # tagged is still cached, then release the cache deterministically —
    # returning a lazy plan would either leak the persisted blocks or
    # recompute the split tag at the caller's action.
    try:
        trow = (tagged.filter(F.col("_b") >= train_pct + cal_pct)
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_test"),
                     F.sum((resid <= F.lit(float(qhat))).cast("int"))
                     .cast("bigint").alias("n_covered")).collect()[0])
    finally:
        tagged.unpersist()
    n_test, n_covered = int(trow.n_test), int(trow.n_covered)
    one = df.sparkSession.range(1)
    return one.select(
        F.lit(n_train).cast("bigint").alias("n_train"),
        F.lit(n_cal).cast("bigint").alias("n_cal"),
        F.lit(n_test).cast("bigint").alias("n_test"),
        F.round(F.lit(b0_v), 6).alias("intercept"),
        F.round(F.lit(b1_v), 6).alias("slope"),
        F.lit(float(qhat)).alias("qhat"),
        F.lit(n_covered).cast("bigint").alias("n_covered"),
        F.round(F.lit(float(n_covered)) / F.lit(float(n_test))
                if n_test else F.lit(None).cast("double"), 6)
        .alias("coverage"))


def _p_upper_normal(t: Column) -> Column:
    """One-sided upper-tail normal p, P(Z > t), valid for BOTH signs of t
    via A&S erfc (which holds only for x ≥ 0): t≥0 → ½·erfc(t/√2),
    t<0 → 1 − ½·erfc(−t/√2).  NULL t propagates."""
    rt2 = F.sqrt(F.lit(2.0))
    return F.when(t.isNull(), F.lit(None).cast("double")).otherwise(
        F.when(t >= 0, F.lit(0.5) * _erfc_as(t / rt2))
        .otherwise(F.lit(1.0) - F.lit(0.5) * _erfc_as(-t / rt2)))


def tost_equivalence(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    margin: float,
    value_scale: int = 2,
) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987; Lakens 2017) — the A/B
    question the significance battery can't answer: "are the arms the
    SAME to within ±margin?"  A non-significant t-test is not evidence
    of equivalence; TOST is: two one-sided large-sample z tests against
    H0₁: diff ≤ −margin and H0₂: diff ≥ +margin, and equivalence is
    declared only when BOTH reject — p_tost = max(p₁, p₂).

    Scale design: the Welch recipe verbatim — ONE conditional
    exact-decimal aggregate of per-arm (n, Σx, Σx²) at the values'
    natural scale, split-cast to bit-identical doubles, terminal
    fixed-order algebra; tails via A&S erfc with explicit sign handling
    (the approximation holds only for x ≥ 0).  Degenerate contract:
    n≤1 arms or zero pooled SE → NULL statistics (no ±Inf).  Returns
    one row: (n_a, n_b, mean_a, mean_b, diff, se, margin, t_lower,
    t_upper, p_tost, equivalent_at_05)."""
    s = value_scale
    x = F.col(value_col).cast("double")
    xd = F.round(x, s).cast(f"decimal(18,{s})")
    xsq = (xd * xd).cast(f"decimal(38,{2 * s})")
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    base = df.filter((in_a | in_b) & F.col(value_col).isNotNull())
    agg = base.agg(
        F.sum(F.when(in_a, 1).otherwise(0)).cast("bigint").alias("_na"),
        F.sum(F.when(in_b, 1).otherwise(0)).cast("bigint").alias("_nb"),
        F.sum(F.when(in_a, xd).otherwise(F.lit(0).cast(f"decimal(18,{s})")))
        .cast(f"decimal(38,{s})").alias("_sa"),
        F.sum(F.when(in_b, xd).otherwise(F.lit(0).cast(f"decimal(18,{s})")))
        .cast(f"decimal(38,{s})").alias("_sb"),
        F.sum(F.when(in_a, xsq)
              .otherwise(F.lit(0).cast(f"decimal(38,{2 * s})"))).alias("_qa"),
        F.sum(F.when(in_b, xsq)
              .otherwise(F.lit(0).cast(f"decimal(38,{2 * s})"))).alias("_qb"))
    nad, nbd = F.col("_na").cast("double"), F.col("_nb").cast("double")
    sa, sb = _split_cast(F.col("_sa")), _split_cast(F.col("_sb"))
    qa, qb = _split_cast(F.col("_qa")), _split_cast(F.col("_qb"))
    ma = F.when(F.col("_na") > 0, sa / nad)
    mb = F.when(F.col("_nb") > 0, sb / nbd)
    va = F.when(F.col("_na") > 1,
                (qa - sa * sa / nad) / (nad - F.lit(1.0)))
    vb = F.when(F.col("_nb") > 1,
                (qb - sb * sb / nbd) / (nbd - F.lit(1.0)))
    s1 = agg.select("_na", "_nb", ma.alias("_ma"), mb.alias("_mb"),
                    (va / nad).alias("_sea"), (vb / nbd).alias("_seb"))
    diff = F.col("_ma") - F.col("_mb")
    se = F.when(F.col("_sea") + F.col("_seb") > 0,
                F.sqrt(F.col("_sea") + F.col("_seb")))
    s2 = s1.select("_na", "_nb", "_ma", "_mb", diff.alias("_d"),
                   se.alias("_se"))
    d = float(margin)
    tl = (F.col("_d") + F.lit(d)) / F.col("_se")
    tu = (F.col("_d") - F.lit(d)) / F.col("_se")
    s3 = s2.select("_na", "_nb", "_ma", "_mb", "_d", "_se",
                   tl.alias("_tl"), tu.alias("_tu"))
    p1 = _p_upper_normal(F.col("_tl"))          # reject diff <= -margin
    p2 = _p_upper_normal(-F.col("_tu"))         # reject diff >= +margin
    # GREATEST skips NULLs in both engines — guard so a NULL stat yields
    # a NULL p, not the other side's p
    p_tost = F.when(F.col("_tl").isNull() | F.col("_tu").isNull(),
                    F.lit(None).cast("double")).otherwise(
        F.greatest(p1, p2))
    s4 = s3.select("_na", "_nb", "_ma", "_mb", "_d", "_se", "_tl", "_tu",
                   p_tost.alias("_p"))
    return s4.select(
        F.col("_na").alias("n_a"), F.col("_nb").alias("n_b"),
        F.round(F.col("_ma"), 6).alias("mean_a"),
        F.round(F.col("_mb"), 6).alias("mean_b"),
        F.round(F.col("_d"), 6).alias("diff"),
        F.round(F.col("_se"), 6).alias("se"),
        F.lit(d).alias("margin"),
        F.round(F.col("_tl"), 6).alias("t_lower"),
        F.round(F.col("_tu"), 6).alias("t_upper"),
        F.round(F.col("_p"), 6).alias("p_tost"),
        F.when(F.col("_p").isNotNull(), F.col("_p") < 0.05)
        .alias("equivalent_at_05"))


def iv_wald(
    df: DataFrame,
    instrument_col: str,
    treat_col: str,
    y_col: str,
    value_scale: int = 2,
) -> DataFrame:
    """Instrumental-variable (Wald) estimator for a BINARY instrument
    (Angrist & Imbens & Rubin 1996 LATE; the causal battery's answer to
    NON-COMPLIANCE, next to :func:`diff_in_diff` and
    :func:`stratified_ate`): when assignment Z is random but take-up T
    is not, β = reduced-form / first-stage:

        β = (ȳ₁ − ȳ₀) / (t̄₁ − t̄₀)

    with the delta-method SE from the per-arm (co)variances:
    Var(β) = [Var(ry) + β²·Var(rt) − 2β·Cov(ry, rt)] / rt².

    Scale design: ONE conditional exact-decimal aggregate per arm of
    (n, Σy, Σy², Σt, Σty) at natural scale (T is 0/1, so Σt² = Σt and
    Σty is just Σy over takers — exact decimals throughout), split-cast
    to bit-identical doubles, staged Janino-safe selects.  Weak or zero
    first stage (|t̄₁ − t̄₀| = 0) and n≤1 arms → NULL statistics.
    Returns one row: (n_z0, n_z1, first_stage, reduced_form, beta_iv,
    se, z, p_value)."""
    s = value_scale
    z1 = F.col(instrument_col).cast("int") == 1
    t = F.col(treat_col).cast("int")
    y = F.col(y_col).cast("double")
    yd = F.round(y, s).cast(f"decimal(18,{s})")
    ysq = (yd * yd).cast(f"decimal(38,{2 * s})")
    zero_s = F.lit(0).cast(f"decimal(18,{s})")
    zero_q = F.lit(0).cast(f"decimal(38,{2 * s})")
    base = df.filter(F.col(y_col).isNotNull() & t.isNotNull()
                     & F.col(instrument_col).isNotNull())

    def _arm(cond, tag):
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
            .alias(f"_n{tag}"),
            F.sum(F.when(cond, yd).otherwise(zero_s))
            .cast(f"decimal(38,{s})").alias(f"_sy{tag}"),
            F.sum(F.when(cond, ysq).otherwise(zero_q)).alias(f"_qy{tag}"),
            F.sum(F.when(cond, t).otherwise(0)).cast("bigint")
            .alias(f"_st{tag}"),
            F.sum(F.when(cond & (t == 1), yd).otherwise(zero_s))
            .cast(f"decimal(38,{s})").alias(f"_sty{tag}"),
        ]

    agg = base.agg(*(_arm(z1, "1") + _arm(~z1, "0")))
    cols = {}
    for tag in ("0", "1"):
        n = F.col(f"_n{tag}").cast("double")
        sy = _split_cast(F.col(f"_sy{tag}"))
        qy = _split_cast(F.col(f"_qy{tag}"))
        st = F.col(f"_st{tag}").cast("double")
        sty = _split_cast(F.col(f"_sty{tag}"))
        cols[f"_my{tag}"] = F.when(F.col(f"_n{tag}") > 0, sy / n)
        cols[f"_mt{tag}"] = F.when(F.col(f"_n{tag}") > 0, st / n)
        cols[f"_vy{tag}"] = F.when(
            F.col(f"_n{tag}") > 1, (qy - sy * sy / n) / (n - F.lit(1.0)))
        # T binary: sum(t^2) = sum(t)
        cols[f"_vt{tag}"] = F.when(
            F.col(f"_n{tag}") > 1, (st - st * st / n) / (n - F.lit(1.0)))
        cols[f"_cv{tag}"] = F.when(
            F.col(f"_n{tag}") > 1, (sty - st * sy / n) / (n - F.lit(1.0)))
    s1 = agg.select("_n0", "_n1",
                    *[v.alias(k) for k, v in cols.items()])
    n0d, n1d = F.col("_n0").cast("double"), F.col("_n1").cast("double")
    ry = F.col("_my1") - F.col("_my0")
    rt = F.col("_mt1") - F.col("_mt0")
    vry = F.col("_vy1") / n1d + F.col("_vy0") / n0d
    vrt = F.col("_vt1") / n1d + F.col("_vt0") / n0d
    cvr = F.col("_cv1") / n1d + F.col("_cv0") / n0d
    s2 = s1.select("_n0", "_n1", ry.alias("_ry"), rt.alias("_rt"),
                   vry.alias("_vry"), vrt.alias("_vrt"),
                   cvr.alias("_cvr"))
    beta = F.when(F.abs(F.col("_rt")) > 0, F.col("_ry") / F.col("_rt"))
    s3 = s2.select("_n0", "_n1", "_ry", "_rt", "_vry", "_vrt", "_cvr",
                   beta.alias("_b"))
    varb = ((F.col("_vry") + F.col("_b") * F.col("_b") * F.col("_vrt")
             - F.lit(2.0) * F.col("_b") * F.col("_cvr"))
            / (F.col("_rt") * F.col("_rt")))
    se = F.when(varb > 0, F.sqrt(varb))
    s4 = s3.select("_n0", "_n1", "_ry", "_rt", "_b", se.alias("_se"))
    zst = F.col("_b") / F.col("_se")
    p = F.when(zst.isNotNull(),
               F.round(F.least(_erfc_as(F.abs(zst) / F.sqrt(F.lit(2.0))),
                               F.lit(1.0)), 9))
    return s4.select(
        F.col("_n0").alias("n_z0"), F.col("_n1").alias("n_z1"),
        F.round(F.col("_rt"), 6).alias("first_stage"),
        F.round(F.col("_ry"), 6).alias("reduced_form"),
        F.round(F.col("_b"), 6).alias("beta_iv"),
        F.round(F.col("_se"), 6).alias("se"),
        F.round(zst, 6).alias("z"),
        F.round(p, 6).alias("p_value"))


def stratified_ate(
    df: DataFrame,
    treat_col,
    y_col,
    covariate_col,
    n_strata: int = 5,
) -> DataFrame:
    """Average treatment effect by SUBCLASSIFICATION on a covariate
    (Cochran 1968; Rosenbaum & Rubin 1984 — the propensity-stratification
    estimator): bucket units into ``n_strata`` covariate strata, take the
    treated−control mean difference WITHIN each stratum, and average the
    per-stratum differences weighted by stratum size (ATE) or by treated
    count (ATT).  This removes the confounding carried by the stratifier
    — the causal-inference battery's observational companion to
    :func:`diff_in_diff` (which needs a pre period) and
    :func:`cuped_adjust` (which needs randomization).

    Strata are equal-WIDTH over the covariate's [min, max] (bounds from
    ONE broadcast aggregate row — the :func:`calibration_bins` rule; no
    global sort/ntile).  Strata missing either arm are dropped and the
    weights renormalize over the strata actually used (the standard
    common-support trim); their count is reported.

    Determinism: per-cell Σy accumulates round-9 → DECIMAL(38,12) exact;
    per-stratum means/diffs are fixed-shape IEEE doubles; the ≤n_strata
    weighted terms round at 9 dp into exact decimal sums (the repo's
    round-9 rule), final readouts round-6.  Scale: one bounds aggregate +
    ONE stratum-keyed conditional hash aggregate (map-side combined,
    single shuffle of ≤n_strata groups); everything downstream acts on
    the O(n_strata) grid.  Returns one row: (n, n_treat, n_control,
    n_strata_used, n_strata_dropped, ate, att)."""
    t = F.col(treat_col).cast("int") if isinstance(treat_col, str) else \
        treat_col.cast("int")
    y = F.col(y_col).cast("double") if isinstance(y_col, str) else \
        y_col.cast("double")
    c = F.col(covariate_col).cast("double") \
        if isinstance(covariate_col, str) else covariate_col.cast("double")
    src = (df.select(t.alias("_t"), y.alias("_y"), c.alias("_c"))
           .filter(F.col("_t").isNotNull() & F.col("_y").isNotNull()
                   & F.col("_c").isNotNull()))
    bounds = src.agg(F.min("_c").alias("_mn"), F.max("_c").alias("_mx"))
    p = F.when(F.col("_mx") > F.col("_mn"),
               (F.col("_c") - F.col("_mn"))
               / (F.col("_mx") - F.col("_mn"))).otherwise(F.lit(0.0))
    s = F.least(F.floor(p * n_strata), F.lit(n_strata - 1)).cast("bigint")

    def _cond_sum9(cond):
        return (F.sum(F.when(cond, F.round(F.col("_y"), 9))
                      .cast("decimal(38,12)")).cast("double"))

    tr = F.col("_t") == 1
    per = (src.crossJoin(F.broadcast(bounds))
           .withColumn("_s", s)
           .groupBy("_s")
           .agg(F.sum(tr.cast("int")).cast("bigint").alias("_nt"),
                F.sum((~tr).cast("int")).cast("bigint").alias("_nc"),
                _cond_sum9(tr).alias("_syt"),
                _cond_sum9(~tr).alias("_syc")))
    inc = (F.col("_nt") > 0) & (F.col("_nc") > 0)
    diff = (F.col("_syt") / F.col("_nt") - F.col("_syc") / F.col("_nc"))
    g = per.select("_nt", "_nc",
                   F.when(inc, diff).alias("_d"),
                   inc.cast("int").alias("_inc"))
    agg = g.agg(
        (F.sum("_nt") + F.sum("_nc")).cast("bigint").alias("n"),
        F.sum("_nt").cast("bigint").alias("n_treat"),
        F.sum("_nc").cast("bigint").alias("n_control"),
        F.sum("_inc").cast("bigint").alias("n_strata_used"),
        (F.count(F.lit(1)) - F.sum("_inc")).cast("bigint")
        .alias("n_strata_dropped"),
        F.sum(F.when(F.col("_inc") == 1, F.col("_nt") + F.col("_nc")))
        .cast("double").alias("_nu"),
        F.sum(F.when(F.col("_inc") == 1, F.col("_nt")))
        .cast("double").alias("_ntu"),
        F.sum(F.round((F.col("_nt") + F.col("_nc")).cast("double")
                      * F.col("_d"), 9).cast("decimal(38,12)"))
        .cast("double").alias("_sa"),
        F.sum(F.round(F.col("_nt").cast("double") * F.col("_d"), 9)
              .cast("decimal(38,12)")).cast("double").alias("_st"))
    return agg.select(
        "n", "n_treat", "n_control", "n_strata_used", "n_strata_dropped",
        F.round(F.col("_sa") / F.col("_nu"), 6).alias("ate"),
        F.round(F.col("_st") / F.col("_ntu"), 6).alias("att"))


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    outcome_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Isotonic (monotone) probability calibration — the
    pool-adjacent-violators fit (Ayer et al. 1955; Zadrozny & Elkan 2002)
    that :func:`calibration_bins` diagnoses the need for: the
    least-squares NON-DECREASING mapping from score to positive rate.
    Computed by the minimax characterization of weighted-L2 isotonic
    regression — fitted(i) = max_{j≤i} min_{k≥i} rate(j..k), the segment
    rate over pooled bins j..k — which is PAV's closed form and needs no
    sequential merge loop.

    Scale design: the raw table collapses to ``n_bins`` equal-width score
    bins in ONE map-side-combined aggregate (broadcast min/max bounds row,
    the calibration_bins rule) — the only pass over data.  The minimax
    then runs on the O(B) occupied-bin grid: prefix sums from a bounded
    single-partition window (the documented O(groups) frame shape), a
    j≤i≤k triple join of ≤B-row frames (≤B³ tiny rows, all broadcast),
    min-then-max aggregates.  Determinism: segment rates are
    bigint/bigint doubles, min/max are exact selections, round-6 at the
    boundary — no accumulation-order float sums anywhere.

    Returns one row per occupied bin, ordered: (bin, n, n_pos, pos_rate,
    fitted) with ``fitted`` non-decreasing in ``bin`` — apply it as the
    calibrated probability for scores landing in that bin."""
    from pyspark.sql.window import Window

    x = F.col(score_col).cast("double")
    src = df.filter(x.isNotNull())
    bounds = src.agg(F.min(x).alias("_mn"), F.max(x).alias("_mx"))
    p = F.when(F.col("_mx") > F.col("_mn"),
               (x - F.col("_mn")) / (F.col("_mx") - F.col("_mn"))
               ).otherwise(F.lit(0.0))
    b = F.least(F.floor(p * n_bins), F.lit(n_bins - 1)).cast("bigint")
    per = (src.crossJoin(F.broadcast(bounds))
           .groupBy(b.alias("bin"))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col(outcome_col).cast("int")).cast("bigint")
                .alias("n_pos")))
    w = (Window.orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pre = per.select(
        "bin", "n", "n_pos",
        F.sum("n").over(w).cast("bigint").alias("_cn"),
        F.sum("n_pos").over(w).cast("bigint").alias("_cp"))
    a, bb, i = pre.alias("a"), pre.alias("b"), pre.alias("i")
    pairs = (a.join(F.broadcast(bb),
                    F.col("a.bin") <= F.col("b.bin"))
             .select(F.col("a.bin").alias("_j"), F.col("b.bin").alias("_k"),
                     ((F.col("b._cp") - F.col("a._cp") + F.col("a.n_pos"))
                      .cast("double")
                      / (F.col("b._cn") - F.col("a._cn") + F.col("a.n"))
                      ).alias("_rate")))
    triple = pairs.join(
        F.broadcast(i.select(F.col("i.bin").alias("_i"))),
        (F.col("_j") <= F.col("_i")) & (F.col("_i") <= F.col("_k")))
    inner = (triple.groupBy("_i", "_j")
             .agg(F.min("_rate").alias("_mn_rate")))
    fit = (inner.groupBy("_i")
           .agg(F.max("_mn_rate").alias("_fit")))
    return (per.join(F.broadcast(fit), per.bin == F.col("_i"))
            .select("bin", "n", "n_pos",
                    F.round(F.col("n_pos").cast("double") / F.col("n"), 6)
                    .alias("pos_rate"),
                    F.round(F.col("_fit"), 6).alias("fitted"))
            .orderBy("bin"))


def bh_fdr(
    df: DataFrame,
    p_col: str = "p_value",
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg FDR correction over an ARBITRARY p-value
    family: run a test per segment/metric/window, then control the
    FALSE DISCOVERY RATE across the whole family instead of eyeballing
    raw p-values (at 5% alpha, 1 in 20 segments "rejects" by chance).
    :func:`chi2_gof_bh` inlines the same step-up for its own bounded
    per-group screen (a window over m group rows); THIS operator is the
    standalone, unbounded-m version — millions of hypotheses (one per
    feature, per shard, per time bucket) without a single-task window.

        p_adj(i) = min(1, min_{j >= i} p_(j) · m / j)     (step-up)
        reject   = p_adj <= alpha                         (equivalent to
                                                           the k* rule)

    Scale design: ranks come from the DISTINCT-p grid with
    :func:`_prefix_sums` inclusive counts (tied p-values share their
    block's LARGEST rank — exactly what the suffix-min needs, so
    distinct-granularity is exact), the suffix min is
    :func:`_prefix_min` over descending p (range-partitioned, never a
    single-task window), and the adjusted values join back on the p key
    the rows already shuffle on.  NULL p-values pass through with NULL
    p_adj and reject=false (no evidence, no decision).  Returns the
    input columns + (p_adj, reject)."""
    pc = F.col(p_col)
    src = df
    tot = (src.filter(pc.isNotNull())
           .agg(F.count(F.lit(1)).cast("bigint").alias("_m")))
    g = (src.filter(pc.isNotNull()).groupBy(pc.alias("_p"))
         .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_c")))
    ranked = _prefix_sums(g, "_p", [("_c", "_rk")], inclusive=True)
    raw = (ranked.crossJoin(F.broadcast(tot))
           .withColumn("_braw",
                       F.col("_p") * F.col("_m").cast("double")
                       / F.col("_rk").cast("double")))
    adj = _prefix_min(raw, "_p", "_braw", "_adj", descending=True)
    adj = adj.select(
        "_p",
        F.when(F.col("_adj") < 1.0, F.col("_adj")).otherwise(F.lit(1.0))
        .alias("p_adj"))
    out = src.join(adj, pc == F.col("_p"), "left").drop("_p")
    return out.select(
        *[F.col(c) for c in df.columns],
        F.round("p_adj", 9).alias("p_adj"),
        F.coalesce(F.col("p_adj") <= F.lit(alpha), F.lit(False))
        .alias("reject"))


def _winsor_stats(per_v: DataFrame, trim: float):
    """(n, h, Σw@2dp, Σw²@4dp) of the winsorized sample for ONE group
    given its distinct-value grid ``(_v decimal(38,2), _c decimal(38,0))``
    — the shared kernel under :func:`yuen_trimmed_ttest`.  k = floor(trim·n)
    values at each end are replaced by the boundary order statistics
    v_(k+1) / v_(n−k); everything is exact: grid counts, rank-overlap
    arithmetic, decimal value sums.  Returns a 1-row frame.

    r12: takes the grid (callers build it — yuen shares ONE corpus scan
    across both groups), and the group total is read off the inclusive
    prefix grid as max(_cm) (= Σ_c exactly, both decimal(38,0) sums of
    the same counts) instead of re-aggregating the pre-checkpoint grid
    subtree — that re-ran the full table scan per group."""
    cum = _prefix_sums(per_v, "_v", [("_c", "_cm")], inclusive=True)
    tot = cum.agg(F.max("_cm").cast("decimal(38,0)").alias("_n"))
    g = cum.crossJoin(F.broadcast(tot))
    k = F.floor(F.col("_n").cast("double") * F.lit(trim)).cast("bigint")
    n = F.col("_n").cast("bigint")
    lo_rank, hi_rank = k + 1, n - k
    # boundary order statistics: min v whose inclusive cum reaches rank
    vlow = (g.filter(F.col("_cm") >= lo_rank.cast("decimal(38,0)"))
            .agg(F.min("_v").alias("_vlow")))
    vhigh = (g.filter(F.col("_cm") >= hi_rank.cast("decimal(38,0)"))
             .agg(F.min("_v").alias("_vhigh")))
    # middle-rank overlap per distinct value: ranks (prev+1 .. cum)
    prev = (F.col("_cm") - F.col("_c")).cast("bigint")
    ov = (F.least(F.col("_cm").cast("bigint"), hi_rank)
          - F.greatest(prev + 1, lo_rank) + 1)
    ovc = F.greatest(ov, F.lit(0)).cast("decimal(38,0)")
    mid = g.agg(
        F.sum(F.col("_v") * ovc).cast("decimal(38,2)").alias("_ms"),
        F.sum((F.col("_v") * F.col("_v")).cast("decimal(38,4)") * ovc)
        .cast("decimal(38,4)").alias("_mq"),
        F.min(k.cast("bigint")).alias("_k"),
        F.min(n).alias("_nn"))
    j = (mid.crossJoin(F.broadcast(vlow))
         .crossJoin(F.broadcast(vhigh)))
    kd = F.col("_k").cast("decimal(38,0)")
    sw = (F.col("_ms") + (kd * F.col("_vlow")).cast("decimal(38,2)")
          + (kd * F.col("_vhigh")).cast("decimal(38,2)"))
    sq = (F.col("_mq")
          + (kd * (F.col("_vlow") * F.col("_vlow")).cast("decimal(38,4)"))
          .cast("decimal(38,4)")
          + (kd * (F.col("_vhigh") * F.col("_vhigh")).cast("decimal(38,4)"))
          .cast("decimal(38,4)"))
    return j.select(
        F.col("_nn").alias("_n"),
        (F.col("_nn") - 2 * F.col("_k")).alias("_h"),
        sw.cast("decimal(38,2)").alias("_sw"),
        sq.cast("decimal(38,4)").alias("_sq"),
        F.col("_ms").alias("_trim_sum"))


def yuen_trimmed_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    trim: float = 0.2,
) -> DataFrame:
    """Yuen's trimmed-mean t-test — the OUTLIER-ROBUST two-sample
    location test (:func:`welch_ttest` on heavy-tailed data chases the
    tails; Yuen compares 20%-trimmed means with winsorized variances):

        t = (x̄t_a − x̄t_b) / √(d_a + d_b),
        d_g = s²w_g (n_g−1) / (h_g (h_g−1)),  h_g = n_g − 2k_g

    Scale design: per group, ONE distinct-value grid with range-
    partitioned prefix counts (:func:`_prefix_sums`); the trimmed sum is
    exact rank-overlap × value decimal algebra (no row-level sort), the
    winsorized moments add k copies of the exact boundary order
    statistics, and the Welch-style df is a terminal fixed-order double.
    Returns one row: (n_a, n_b, h_a, h_b, trimmed_mean_a,
    trimmed_mean_b, t_stat, df)."""
    v = F.col(value_col).cast("decimal(38,2)")
    base = df.filter(F.col(value_col).isNotNull())

    # r12: each side's grid builds once inside _prefix_sums' checkpoint
    # and the group total now reads off that grid (max of the inclusive
    # cum) — 4 full scans -> 2.  (A shared (group, value) grid with its
    # own checkpoint was prototyped and measured SLOWER at sf0.1 —
    # 3.8s -> 5.4s — the eager materialization costs more than the
    # column-pruned duplicate scan it saves; guide §1.1's gotcha clause.)
    def side(gval):
        per_v = (base.filter(F.col(group_col) == gval)
                 .groupBy(v.alias("_v"))
                 .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_c")))
        return _winsor_stats(per_v, trim)

    a = side(group_a).select(*[F.col(c).alias(c + "a") for c in
                               ("_n", "_h", "_sw", "_sq", "_trim_sum")])
    b = side(group_b).select(*[F.col(c).alias(c + "b") for c in
                               ("_n", "_h", "_sw", "_sq", "_trim_sum")])
    j = a.crossJoin(F.broadcast(b))

    def stats(sfx):
        nd = F.col("_n" + sfx).cast("double")
        hd = F.col("_h" + sfx).cast("double")
        sw = _split_cast(F.col("_sw" + sfx))
        sq = _split_cast(F.col("_sq" + sfx))
        ts = _split_cast(F.col("_trim_sum" + sfx))
        xt = ts / hd
        s2w = (sq - sw * sw / nd) / (nd - F.lit(1.0))
        d = s2w * (nd - F.lit(1.0)) / (hd * (hd - F.lit(1.0)))
        return xt, d, hd

    xta, da, ha = stats("a")
    xtb, dbv, hb = stats("b")
    t = (xta - xtb) / F.sqrt(da + dbv)
    dfw = ((da + dbv) * (da + dbv)
           / (da * da / (ha - F.lit(1.0)) + dbv * dbv / (hb - F.lit(1.0))))
    return j.select(
        F.col("_na").alias("n_a"), F.col("_nb").alias("n_b"),
        F.col("_ha").alias("h_a"), F.col("_hb").alias("h_b"),
        F.round(xta, 6).alias("trimmed_mean_a"),
        F.round(xtb, 6).alias("trimmed_mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dfw, 6).alias("df"))


def quantile_normalize_map(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ref_group: str,
    target_group: str,
) -> DataFrame:
    """Quantile-normalization mapping: re-express the TARGET group's
    values on the REFERENCE group's distribution (x at quantile q ↦
    F_ref⁻¹(q)) — the batch-effect / feature-alignment classic (scores
    from two models, sensors, or annotation batches become comparable).

    Mapping rule on exact grids: a target value spanning midrank
    quantile q = (2·prev + c) / (2·n_t) maps to the smallest reference
    value whose inclusive cumulative count reaches q — decided by the
    cross-multiplied EXACT integer comparison
    2·n_t·cum_ref ≥ (2·prev_t + c_t)·n_ref (the weighted-percentile
    trick: no fraction is ever materialized, so boundary rows can't
    flip engines).

    Scale design: both groups collapse to distinct-value grids with
    range-partitioned prefix counts (:func:`_prefix_sums`); the lookup
    "smallest reference value whose cumulative reaches the target's
    quantile" runs as a MERGE SCAN — both grids keyed by the exact
    integer 2·n_t·cum_ref vs (2·prev_t+c_t)·n_ref, unioned, and swept
    once with the range-partitioned running-last carry
    (:func:`_prefix_last`) — O((|grid_t|+|grid_r|) log) total, never the
    |grid_t|×|grid_r| inequality join.  Output is the mapping TABLE
    (value, n_rows, quantile, mapped_value), |distinct target| rows —
    join it back by value to normalize the raw table map-side."""
    v = F.col(value_col).cast("decimal(38,6)")
    base = df.filter(F.col(value_col).isNotNull())

    def grid(gval):
        per_v = (base.filter(F.col(group_col) == gval)
                 .groupBy(v.alias("_v"))
                 .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_c")))
        return _prefix_sums(per_v, "_v", [("_c", "_cm")], inclusive=True)

    tgt = grid(target_group).select(
        "_v", "_c", (F.col("_cm") - F.col("_c")).alias("_prev"))
    ref = grid(ref_group).select(F.col("_v").alias("_rv"),
                                 F.col("_cm").alias("_rcm"))
    nt = tgt.agg(F.sum("_c").cast("decimal(38,0)").alias("_nt"))
    nr = ref.agg(F.max("_rcm").cast("decimal(38,0)").alias("_nr"))
    qnum = (F.lit(2) * F.col("_prev") + F.col("_c"))
    # exact shared key: target k = (2 prev + c)·n_r, ref k = 2 n_t·cum;
    # the mapping is the smallest-k ref row with k_ref >= k_tgt — i.e.
    # the last ref row seen when sweeping k DESC (ref before target at
    # ties so an equal-k ref qualifies)
    t_rows = (tgt.crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(nr))
              .select((qnum * F.col("_nr")).cast("decimal(38,0)")
                      .alias("_k"),
                      F.lit(1).alias("_tie"),
                      F.lit(None).cast("decimal(38,6)").alias("_refv"),
                      "_v", "_c", qnum.alias("_qn"), "_nt"))
    r_rows = (ref.crossJoin(F.broadcast(nt))
              .select((F.lit(2) * F.col("_nt") * F.col("_rcm"))
                      .cast("decimal(38,0)").alias("_k"),
                      F.lit(0).alias("_tie"),
                      F.col("_rv").alias("_refv"),
                      F.lit(None).cast("decimal(38,6)").alias("_v"),
                      F.lit(None).cast("decimal(38,0)").alias("_c"),
                      F.lit(None).cast("decimal(38,0)").alias("_qn"),
                      F.lit(None).cast("decimal(38,0)").alias("_nt")))
    swept = _prefix_last(
        r_rows.unionByName(t_rows),
        [F.col("_k").desc(), F.col("_tie")], "_refv", "_mapped")
    out = swept.filter(F.col("_tie") == 1)
    return out.select(
        F.col("_v").cast("double").alias("value"),
        F.col("_c").cast("bigint").alias("n_rows"),
        F.round(F.col("_qn").cast("double")
                / (F.lit(2.0) * F.col("_nt").cast("double")), 9)
        .alias("quantile"),
        F.col("_mapped").cast("double").alias("mapped_value"))


TableQuantileNormalize = _simple_module(
    "table.ml.quantile_normalize",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": quantile_normalize_map(
        im["table"].data, self.config["group_column"],
        self.config["value_column"], self.config["ref_group"],
        self.config["target_group"])},
    doc="Quantile-normalization mapping table: target values re-expressed "
        "on the reference group's distribution (exact grid algebra).",
)


TableGini = _simple_module(
    "table.concentration.gini",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": gini_coefficient(
        im["table"].data, self.config["value_column"])},
    doc="Exact Gini coefficient over the distinct-value grid "
        "(decimal-exact prefix algebra).",
)

TableHhi = _simple_module(
    "table.concentration.hhi",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": hhi_concentration(
        im["table"].data, self.config["group_columns"],
        self.config["entity_column"], self.config["value_column"])},
    doc="Herfindahl-Hirschman concentration per group (+ effective "
        "entity count).",
)

TableEntropy = _simple_module(
    "table.concentration.entropy",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": shannon_entropy(
        im["table"].data, self.config["category_column"],
        **config_kwargs(self, group_cols="group_columns"))},
    doc="Shannon entropy (nats) of a categorical column, optionally "
        "per group.",
)

TableClassificationReport = _simple_module(
    "table.ml.classification_report",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": classification_report(
        im["table"].data, self.config["label_column"],
        self.config["prediction_column"])},
    doc="Binary confusion matrix + precision/recall/F1/accuracy in one "
        "scan.",
)

TablePriceVolumeMix = _simple_module(
    "table.variance.price_volume_mix",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": price_volume_mix(
        im["table"].data, self.config["group_columns"],
        self.config["revenue_column"], self.config["volume_column"],
        **config_kwargs(self, period_col="period_column"))},
    doc="Price-volume-mix variance bridge between two periods (one "
        "conditional aggregate, decimal-exact sums).",
)

TableOneHot = _simple_module(
    "table.ml.one_hot",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": one_hot_encode(
        im["table"].data, self.config["column"],
        **config_kwargs(self, "values"))},
    doc="One-hot encoding of a low-cardinality categorical (map-only; "
        "pin `values` for a stable fitted schema).",
)

TableWeightedPercentile = _simple_module(
    "table.weighted_percentile",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": weighted_percentile(
        im["table"].data, self.config["value_column"],
        self.config["weight_column"],
        percentiles=self.config.get("percentiles", [0.5, 0.9, 0.99]))},
    doc="Exact weighted percentiles over the distinct-value grid "
        "(decimal-exact cumulative weights, no raw-row sort).",
)

TableAucRoc = _simple_module(
    "table.ml.auc_roc",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": auc_roc(
        im["table"].data, self.config["score_column"],
        self.config["outcome_column"])},
    doc="Exact ROC AUC (Mann-Whitney midrank statistic; distinct-score "
        "aggregation, exact integer algebra).",
)

TableLiftTable = _simple_module(
    "table.ml.lift_table",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": lift_table(
        im["table"].data, self.config["score_column"],
        self.config["outcome_column"],
        **config_kwargs(self, "n_bins"))},
    doc="Lift/gains table over equal-frequency score bins (no global "
        "sort; broadcast percentile bounds + one n_bins-row aggregate).",
)

TableRakeWeights = _simple_module(
    "table.weights.rake",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": rake_weights(
        im["table"].data, self.config["row_column"],
        self.config["col_column"],
        **config_kwargs(self, "n_iter", "row_targets", "col_targets"))},
    doc="Raking / iterative proportional fitting (Deming & Stephan "
        "1940): alternating proportional cell-weight adjustment to "
        "target (default uniform) row/column margins; fixed iterations, "
        "all steps on the O(R*C) grid.",
)

TableUpliftQini = _simple_module(
    "table.ml.uplift_qini",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": uplift_qini(
        im["table"].data, self.config["score_column"],
        self.config["treat_column"], self.config["outcome_column"],
        **config_kwargs(self, "n_bins"))},
    doc="Qini/uplift curve (Radcliffe 2007): per-depth incremental "
        "conversions of treatment over exposure-scaled control, raw bin "
        "uplift, and gain over the random-targeting diagonal.",
)

TableCalibrationBins = _simple_module(
    "table.ml.calibration_bins",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": calibration_bins(
        im["table"].data, self.config["score_column"],
        self.config["outcome_column"],
        **config_kwargs(self, "n_bins"))},
    doc="Reliability-diagram bins: mean predicted vs observed rate per "
        "equal-width score bin + ECE contributions (two map-side-combined "
        "scans, broadcast bounds).",
)

TableIsotonicCalibration = _simple_module(
    "table.ml.isotonic_calibration",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": isotonic_calibration(
        im["table"].data, self.config["score_column"],
        self.config["outcome_column"],
        **config_kwargs(self, "n_bins"))},
    doc="Isotonic (PAV) probability calibration via the minimax closed "
        "form on equal-width score bins: least-squares non-decreasing "
        "score-to-rate mapping (Zadrozny & Elkan 2002).",
)

TableBenford = _simple_module(
    "table.quality.benford",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": benford_report(
        im["table"].data, self.config["column"],
        **config_kwargs(self, "scale"))},
    doc="Benford first-digit audit: observed vs log10(1+1/d) expected "
        "frequencies per leading digit (fabrication screen).",
)

TableLDiversity = _simple_module(
    "table.privacy.l_diversity",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": l_diversity_report(
        im["table"].data, self.config["quasi_columns"],
        self.config["sensitive_column"],
        **config_kwargs(self, "l"))},
    doc="l-diversity audit: distinct sensitive values per "
        "quasi-identifier class + violation flags.",
)

TableTargetEncode = _simple_module(
    "table.ml.target_encode",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": target_encode(
        im["table"].data, self.config["category_column"],
        self.config["target_column"],
        **config_kwargs(self, "smoothing"))},
    doc="Smoothed target encoding for high-cardinality categoricals "
        "(decimal-exact, one category-key aggregate + broadcast join).",
)


TableKAnonymity = _simple_module(
    "table.privacy.k_anonymity",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": k_anonymity_report(
        im["table"].data, self.config["quasi_columns"],
        **config_kwargs(self, "k"))},
    doc="k-anonymity audit: equivalence-class sizes over the "
        "quasi-identifiers + violation flags.",
)

TableScaleFeatures = _simple_module(
    "table.ml.scale_features",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": scale_features(
        im["table"].data, self.config["columns"],
        **config_kwargs(self, "methods"))},
    doc="Min-max and z-score feature scaling (one decimal-exact stats "
        "pass + broadcast map).",
)

MODULES = [TableScaleFeatures, TableKAnonymity, TableQualityExpectations,
           TableLDiversity, TableTargetEncode, TableBenford, TableLiftTable,
           TableCalibrationBins, TableIsotonicCalibration, TableUpliftQini,
           TableRakeWeights,
           TableAucRoc, TableWeightedPercentile, TableOneHot,
           TablePriceVolumeMix, TableClassificationReport,
           TableGini, TableHhi, TableEntropy,
           TableMergeUpsert, TableQualityAudit, TableScd2, TableValidateSchema,
           TableDiff, TableWinsorize, TableApplyChanges, TableQuantileBins,
           TableCorrMatrix, TableImputeNulls, TableSkewReport,
           TableIncrementalAgg, TableDriftPsi, TableChecksumRanges,
           TableRegressionByGroup, TableKthSmallest, TableAssociationPairs,
           TableAssociationTriples,
           TableProfile]
TableAveragePrecision = _simple_module(
    "table.ml.average_precision",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": average_precision(
        im["table"].data, self.config["score_column"],
        self.config["label_column"])},
    doc="Average precision (PR-AUC, step interpolation) over the "
        "distinct-score grid — the rare-positive ranking metric.",
)

TableRegressionStump = _simple_module(
    "table.ml.regression_stump",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": regression_stump(
        im["table"].data, self.config["feature_column"],
        self.config["target_column"])},
    doc="Exact CART best-split search (variance reduction) over the "
        "distinct-value grid — the GBDT inner loop.",
)

TableTCloseness = _simple_module(
    "table.privacy.t_closeness",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": t_closeness_report(
        im["table"].data, self.config["quasi_columns"],
        self.config["sensitive_column"],
        **config_kwargs(self, "t"))},
    doc="t-closeness audit: per-class total-variation distance of the "
        "sensitive distribution vs global (exact integer algebra).",
)

TableKsDrift = _simple_module(
    "table.drift.ks",
    {"reference": TABLE, "current": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": ks_statistic(
        im["reference"].data, im["current"].data,
        self.config["value_column"])},
    doc="Two-sample Kolmogorov-Smirnov drift test over the distinct-value "
        "grid — exact integer sup, asymptotic p-value.",
)

TableLinRegNormal = _simple_module(
    "table.ml.linear_regression",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": linear_regression_normal(
        im["table"].data, self.config["target_column"],
        self.config["feature_columns"])},
    doc="Exact OLS (intercept + 2 features) by distributed normal "
        "equations — one Gram aggregate, in-plan Cramer solve, R² pass.",
)

TableLogRegGd = _simple_module(
    "table.ml.logistic_regression",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": logistic_regression_gd(
        im["table"].data, self.config["label_column"],
        self.config["feature_columns"],
        **config_kwargs(self, "iterations", lr="learning_rate"))},
    doc="Binary logistic regression by full-batch gradient descent — "
        "one decimal-exact aggregate per epoch, broadcast weight row.",
)

TableDpNoisyCounts = _simple_module(
    "table.privacy.dp_noisy_counts",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": dp_noisy_counts(
        im["table"].data, self.config["group_columns"],
        **config_kwargs(self, "epsilon", "salt"))},
    doc="ε-DP Laplace-mechanism count histogram with derived "
        "(reproducible) noise — keep the salt secret in a real release.",
)

TableBootstrapCi = _simple_module(
    "table.stats.bootstrap_ci",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": bootstrap_ci_mean(
        im["table"].data, self.config["value_column"],
        self.config["id_column"],
        **config_kwargs(self, "b_resamples", "level", "salt"))},
    doc="Poisson-bootstrap percentile CI for the mean — all B resamples "
        "from ONE aggregate (map-side Poisson(1) weights).",
)

TableGmmEm = _simple_module(
    "table.ml.gmm_em",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": gmm_em_1d(
        im["table"].data, self.config["value_column"],
        **config_kwargs(self, "init", "iterations"))},
    doc="Two-component 1-D Gaussian mixture by EM — one decimal-exact "
        "aggregate per round, broadcast parameter row.",
)

TableNdcg = _simple_module(
    "table.ml.ndcg",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": ndcg_at_k(
        im["table"].data, self.config["query_column"],
        self.config["score_column"], self.config["relevance_column"],
        self.config["id_column"], **config_kwargs(self, "k"))},
    doc="NDCG@k + MRR@k per query group (graded-relevance ranking "
        "quality).",
)

TableRidgeNormal = _simple_module(
    "table.ml.ridge_regression",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": ridge_regression_normal(
        im["table"].data, self.config["target_column"],
        self.config["feature_columns"],
        **config_kwargs(self, lam="lambda"))},
    doc="Ridge (L2) regression by distributed normal equations — the "
        "same one-aggregate Gram shape as OLS, nonsingular for any λ>0.",
)

TableKfoldCvOls = _simple_module(
    "table.ml.kfold_cv",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": kfold_cv_ols(
        im["table"].data, self.config["target_column"],
        self.config["feature_columns"], self.config["id_column"],
        **config_kwargs(self, "k"))},
    doc="K-fold cross-validated OLS from ONE Gram aggregate "
        "(train Gram = total − fold); per-fold test RMSE/R².",
)

TableBootstrapAbDiff = _simple_module(
    "table.stats.bootstrap_ab_diff",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": bootstrap_ab_diff(
        im["table"].data, self.config["value_column"],
        self.config["id_column"], self.config["group_column"],
        self.config["group_a"], self.config["group_b"],
        **config_kwargs(self, "b_resamples", "level", "salt"))},
    doc="Poisson-bootstrap percentile CI for the A/B difference in "
        "means — all B resampled diffs from one (resample, group) "
        "aggregate.",
)

TableCuped = _simple_module(
    "table.stats.cuped",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": cuped_adjustment(
        im["table"].data, self.config["metric_column"],
        self.config["covariate_column"])},
    doc="CUPED variance reduction for experiment metrics — θ, correlation "
        "and the variance-reduction factor from one aggregate.",
)

TableCramerVonMises = _simple_module(
    "table.drift.cramer_von_mises",
    {"reference": TABLE, "current": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": cramer_von_mises(
        im["reference"].data, im["current"].data,
        self.config["value_column"])},
    doc="Cramér-von Mises two-sample drift test — integrated-squared-"
        "ECDF over the distinct-value grid, exact integer rejection "
        "flags vs the limiting omega-squared critical values.",
)

TableMannWhitney = _simple_module(
    "table.drift.mann_whitney",
    {"reference": TABLE, "current": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": mann_whitney_u(
        im["reference"].data, im["current"].data,
        self.config["value_column"])},
    doc="Mann-Whitney U rank-sum test over the distinct-value grid — "
        "exact doubled midranks, tie-corrected normal z, A&S p-value.",
)

TableWelchTtest = _simple_module(
    "table.stats.welch_ttest",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": welch_ttest(
        im["table"].data, self.config["group_column"],
        self.config["value_column"], self.config["group_a"],
        self.config["group_b"])},
    doc="Welch's unequal-variance two-sample t-test from one "
        "conditional-aggregation pass (decimal-exact sufficient stats).",
)

TableSpearman = _simple_module(
    "table.stats.spearman",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": spearman_correlation(
        im["table"].data, self.config["x_column"],
        self.config["y_column"])},
    doc="Spearman rank correlation via exact doubled midranks on the "
        "distinct-value grids (tie-corrected, Pearson-on-ranks).",
)

TableCrosstabAssoc = _simple_module(
    "table.stats.crosstab_association",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": crosstab_association(
        im["table"].data, self.config["column_a"],
        self.config["column_b"])},
    doc="Categorical association: Pearson chi2, Cramér's V and mutual "
        "information from one (a,b) aggregate + margin rollups.",
)

TableChi2Bh = _simple_module(
    "table.stats.chi2_gof_bh",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": chi2_gof_bh(
        im["table"].data, self.config["group_column"],
        self.config["category_column"],
        **config_kwargs(self, "alpha"))},
    doc="Per-group chi2 goodness-of-fit vs the pooled distribution with "
        "Benjamini-Hochberg FDR adjustment across groups.",
)

TableAnovaOneway = _simple_module(
    "table.stats.anova",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": anova_oneway(
        im["table"].data, self.config["group_column"],
        self.config["value_column"])},
    doc="One-way ANOVA F-test + eta-squared from one per-group "
        "sufficient-statistics aggregate (exact decimal sums).",
)

TableCohensKappa = _simple_module(
    "table.stats.cohens_kappa",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": cohens_kappa(
        im["table"].data, self.config["rater_a_column"],
        self.config["rater_b_column"])},
    doc="Cohen's kappa inter-rater agreement — exact-integer chance "
        "correction from one (a,b) cell aggregate.",
)

TableLeveneBf = _simple_module(
    "table.stats.levene_bf",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": levene_bf(
        im["table"].data, self.config["group_column"],
        self.config["value_column"])},
    doc="Brown-Forsythe (median-centered Levene) variance-homogeneity "
        "F-test: exact lower medians + ANOVA on |x - median|.",
)

TableYuenTtest = _simple_module(
    "table.stats.yuen_ttest",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": yuen_trimmed_ttest(
        im["table"].data, self.config["group_column"],
        self.config["value_column"], self.config["group_a"],
        self.config["group_b"],
        **config_kwargs(self, "trim"))},
    doc="Yuen's trimmed-mean t-test: outlier-robust two-sample location "
        "comparison (exact grid trimming + winsorized variances).",
)

TableJarqueBera = _simple_module(
    "table.stats.jarque_bera",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": jarque_bera(
        im["table"].data, self.config["value_column"])},
    doc="Jarque-Bera normality test from exact decimal raw moments "
        "(skewness + excess kurtosis, exact df=2 p).",
)

TableCochransQ = _simple_module(
    "table.stats.cochrans_q",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": cochrans_q(
        im["table"].data, self.config["block_column"],
        self.config["treatment_column"], self.config["flag_column"])},
    doc="Cochran's Q: blocked k-treatment binary-outcome test "
        "(exact-integer sufficient statistics).",
)

TableBartlett = _simple_module(
    "table.stats.bartlett",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": bartlett_test(
        im["table"].data, self.config["group_column"],
        self.config["value_column"])},
    doc="Bartlett's parametric variance-homogeneity test "
        "(key-ordered ln-variance folds).",
)

TableFriedman = _simple_module(
    "table.stats.friedman",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": friedman_test(
        im["table"].data, self.config["block_column"],
        self.config["treatment_column"], self.config["value_column"])},
    doc="Friedman repeated-measures rank test: k treatments ranked "
        "within each block (between-block variation cancels).",
)

TableWilcoxonSignedRank = _simple_module(
    "table.stats.wilcoxon_signed_rank",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": wilcoxon_signed_rank(
        im["table"].data, self.config["x_column"],
        self.config["y_column"])},
    doc="Wilcoxon signed-rank paired test on exact doubled midranks of "
        "|x - y| (rank-robust paired comparison).",
)

TableKruskalWallis = _simple_module(
    "table.stats.kruskal_wallis",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": kruskal_wallis(
        im["table"].data, self.config["group_column"],
        self.config["value_column"])},
    doc="Kruskal-Wallis H: k-group rank ANOVA on exact doubled midranks "
        "with tie correction (even-df closed-form p).",
)

TableMcnemar = _simple_module(
    "table.stats.mcnemar",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": mcnemar_test(
        im["table"].data, self.config["a_column"],
        self.config["b_column"])},
    doc="McNemar's paired-binary test: off-diagonal flip chi2 with "
        "exact erfc p (before/after model comparison).",
)

TableCcc = _simple_module(
    "table.stats.concordance_ccc",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": concordance_ccc(
        im["table"].data, self.config["x_column"],
        self.config["y_column"],
        **config_kwargs(self, "value_scale"))},
    doc="Lin's concordance correlation (agreement incl. scale/location "
        "bias) from one exact-decimal aggregate.",
)

TableMoodMedian = _simple_module(
    "table.stats.mood_median",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": mood_median_test(
        im["table"].data, self.config["group_column"],
        self.config["value_column"])},
    doc="Mood's median test: above/below-pooled-median chi2 across "
        "groups (outlier-immune location screen).",
)

TableTwoPropZ = _simple_module(
    "table.stats.two_proportion_z",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": two_proportion_z(
        im["table"].data, self.config["group_column"],
        self.config["flag_column"], self.config["group_a"],
        self.config["group_b"])},
    doc="Two-proportion z-test (pooled variance) with exact erfc "
        "p-value from one conditional-count scan.",
)

TableBhFdr = _simple_module(
    "table.stats.bh_fdr",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": bh_fdr(
        im["table"].data,
        **config_kwargs(self, "alpha", p_col="p_column"))},
    doc="Benjamini-Hochberg FDR step-up over a family of p-values: "
        "adjusted p + reject flags, range-partitioned rank/suffix-min "
        "(no single-task window).",
)

TableCupedReadout = _simple_module(
    "table.stats.cuped_readout",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": cuped_adjust(
        im["table"].data, self.config["group_column"],
        self.config["x_column"], self.config["y_column"],
        self.config["group_a"], self.config["group_b"],
        **config_kwargs(self, "value_scale"))},
    doc="CUPED variance-reduced A/B READOUT (Deng et al. 2013): per-arm "
        "adjusted means, adjusted-diff z + erfc p, 100*rho^2 variance "
        "reduction from one exact-decimal conditional scan (the decision "
        "layer over table.stats.cuped's theta/variance-factor summary).",
)

TableDiffInDiff = _simple_module(
    "table.stats.diff_in_diff",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": diff_in_diff(
        im["table"].data, self.config["group_column"],
        self.config["period_column"], self.config["y_column"],
        self.config["group_treat"], self.config["group_control"],
        self.config["period_pre"], self.config["period_post"],
        **config_kwargs(self, "value_scale", segment_col="segment_column"))},
    doc="Difference-in-differences readout for staged rollouts: the "
        "treatment shift net of the control group's secular trend, with "
        "the 4-cell large-sample z and erfc p from one exact-decimal "
        "conditional scan (parallel-trends is the caller's assumption).",
)

TableRatioMetricDelta = _simple_module(
    "table.stats.ratio_metric_delta",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": ratio_metric_delta(
        im["table"].data, self.config["group_column"],
        self.config["num_column"], self.config["den_column"],
        self.config["group_a"], self.config["group_b"],
        **config_kwargs(self, "value_scale"))},
    doc="Ratio-of-sums metric A/B test with delta-method variance (Deng "
        "et al. 2018): per-arm ratio, SE, z and erfc p from one "
        "exact-decimal conditional scan over the randomization units.",
)

TablePowerMde = _simple_module(
    "table.stats.power_mde",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": power_mde(
        im["table"].data, self.config["group_column"],
        self.config["y_column"],
        self.config["group_a"], self.config["group_b"],
        **config_kwargs(self, "alpha", "power", "target_rel_effect",
                        "value_scale"))},
    doc="Experiment power/MDE planning: minimum detectable effect at the "
        "current sample + required per-arm n for a target relative lift, "
        "from one exact-decimal conditional scan (literal z quantiles).",
)

TableMsprt = _simple_module(
    "table.stats.msprt",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": msprt_always_valid(
        im["table"].data, self.config["group_column"],
        self.config["time_column"], self.config["y_column"],
        self.config["group_a"], self.config["group_b"],
        tau=self.config["tau"],
        **config_kwargs(self, "value_scale"))},
    doc="Mixture SPRT always-valid p-value sequence (Johari et al. 2017) "
        "for continuously-monitored A/B tests: per-bucket cumulative "
        "log-likelihood ratio + non-increasing p, safe at every look.",
)

TableConformalInterval = _simple_module(
    "table.stats.conformal_interval",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": conformal_interval(
        im["table"].data, self.config["x_column"],
        self.config["y_column"], self.config["key_columns"],
        **config_kwargs(self, "alpha", "train_pct", "cal_pct", "salt"))},
    doc="Split-conformal prediction interval (Lei et al. 2018): "
        "distribution-free ±q-hat regression band with finite-sample "
        ">=1-alpha coverage; OLS base fit, order-statistic calibration.",
)

TableTostEquivalence = _simple_module(
    "table.stats.tost_equivalence",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": tost_equivalence(
        im["table"].data, self.config["group_column"],
        self.config["value_column"],
        self.config["group_a"], self.config["group_b"],
        self.config["margin"],
        **config_kwargs(self, "value_scale"))},
    doc="TOST equivalence test (Schuirmann 1987): two one-sided "
        "large-sample z tests against +-margin; equivalence only when "
        "both reject (p_tost = max of the one-sided p values).",
)

TableIvWald = _simple_module(
    "table.stats.iv_wald",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": iv_wald(
        im["table"].data, self.config["instrument_column"],
        self.config["treat_column"], self.config["y_column"],
        **config_kwargs(self, "value_scale"))},
    doc="Instrumental-variable Wald/LATE estimator for a binary "
        "instrument: reduced-form / first-stage with delta-method SE "
        "(non-compliance-robust causal effect).",
)

TableStratifiedAte = _simple_module(
    "table.stats.stratified_ate",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": stratified_ate(
        im["table"].data, self.config["treat_column"],
        self.config["y_column"], self.config["covariate_column"],
        **config_kwargs(self, "n_strata"))},
    doc="Subclassification ATE/ATT (Cochran 1968; Rosenbaum & Rubin "
        "1984): within-stratum treated-control differences averaged "
        "with size (ATE) / treated (ATT) weights; common-support drop.",
)

TableSrmCheck = _simple_module(
    "table.stats.srm_check",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": srm_check(
        im["table"].data, self.config["group_column"],
        self.config["expected"],
        **config_kwargs(self, "alpha"))},
    doc="Sample-ratio-mismatch gate: chi2 GOF of assignment counts vs "
        "the designed split (df=1 exact erfc p).",
)

TableKendallTau = _simple_module(
    "table.stats.kendall_tau",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": kendall_tau_b(
        im["table"].data, self.config["x_column"],
        self.config["y_column"])},
    doc="Kendall's tau-b rank correlation over the joint distinct grid "
        "(cell-pair concordance, exact integers).",
)

MODULES += [TableAveragePrecision, TableRegressionStump, TableTCloseness,
            TableKsDrift, TableLinRegNormal, TableLogRegGd,
            TableDpNoisyCounts, TableBootstrapCi, TableGmmEm, TableNdcg,
            TableRidgeNormal, TableKfoldCvOls, TableCuped,
            TableBootstrapAbDiff,
            TableCramerVonMises,
            TableMannWhitney, TableWelchTtest, TableSpearman,
            TableCrosstabAssoc, TableChi2Bh,
            TableAnovaOneway, TableCohensKappa, TableLeveneBf,
            TableKendallTau, TableSrmCheck, TableMoodMedian,
            TableTwoPropZ, TableCupedReadout, TableDiffInDiff,
            TableBhFdr, TableMcnemar,
            TableCcc, TableYuenTtest,
            TableQuantileNormalize, TableKruskalWallis,
            TableWilcoxonSignedRank, TableFriedman, TableJarqueBera,
            TableCochransQ, TableBartlett, TablePowerMde, TableMsprt,
            TableRatioMetricDelta, TableConformalInterval,
            TableStratifiedAte, TableTostEquivalence, TableIvWald]

OPERATIONS = [
    Operation("table.stats.srm_check", "table.stats.srm_check",
              doc="sample-ratio-mismatch chi2 gate for A/B assignments"),
    Operation("table.stats.power_mde", "table.stats.power_mde",
              doc="experiment power / minimum-detectable-effect planning "
                  "(MDE at current n, required n for a target lift)"),
    Operation("table.stats.msprt", "table.stats.msprt",
              doc="mixture SPRT always-valid p-value sequence for "
                  "continuously-monitored experiments"),
    Operation("table.stats.ratio_metric_delta",
              "table.stats.ratio_metric_delta",
              doc="delta-method A/B test for ratio-of-sums metrics "
                  "(revenue/session-class, Deng et al. 2018)"),
    Operation("table.stats.conformal_interval",
              "table.stats.conformal_interval",
              doc="split-conformal prediction interval (distribution-free "
                  "finite-sample coverage, Lei et al. 2018)"),
    Operation("table.stats.stratified_ate", "table.stats.stratified_ate",
              doc="subclassification ATE/ATT on a covariate (Cochran "
                  "1968; Rosenbaum & Rubin 1984) with common-support "
                  "stratum drop"),
    Operation("table.stats.tost_equivalence",
              "table.stats.tost_equivalence",
              doc="TOST equivalence / non-inferiority test "
                  "(Schuirmann 1987 two one-sided tests)"),
    Operation("table.stats.iv_wald", "table.stats.iv_wald",
              doc="binary-instrument Wald/LATE estimator with "
                  "delta-method SE (Angrist-Imbens-Rubin 1996)"),
    Operation("table.stats.mood_median", "table.stats.mood_median",
              doc="Mood's median test (pooled-median 2xk chi2)"),
    Operation("table.stats.mcnemar", "table.stats.mcnemar",
              doc="McNemar's paired-binary flip test"),
    Operation("table.stats.yuen_ttest", "table.stats.yuen_ttest",
              doc="Yuen's trimmed-mean robust t-test"),
    Operation("table.ml.quantile_normalize", "table.ml.quantile_normalize",
              doc="quantile-normalization mapping onto a reference group"),
    Operation("table.stats.kruskal_wallis", "table.stats.kruskal_wallis",
              doc="Kruskal-Wallis k-group rank ANOVA (tie-corrected)"),
    Operation("table.stats.wilcoxon_signed_rank",
              "table.stats.wilcoxon_signed_rank",
              doc="Wilcoxon signed-rank paired test"),
    Operation("table.stats.friedman", "table.stats.friedman",
              doc="Friedman blocked k-treatment rank test"),
    Operation("table.stats.jarque_bera", "table.stats.jarque_bera",
              doc="Jarque-Bera normality test"),
    Operation("table.stats.cochrans_q", "table.stats.cochrans_q",
              doc="Cochran's Q blocked binary-outcome test"),
    Operation("table.stats.bartlett", "table.stats.bartlett",
              doc="Bartlett's variance-homogeneity test"),
    Operation("table.stats.concordance_ccc",
              "table.stats.concordance_ccc",
              doc="Lin's concordance correlation coefficient"),
    Operation("table.stats.two_proportion_z",
              "table.stats.two_proportion_z",
              doc="two-proportion z-test with erfc p-value"),
    Operation("table.stats.cuped_readout", "table.stats.cuped_readout",
              doc="CUPED two-arm A/B readout: adjusted means, adjusted-"
                  "diff z/p, variance reduction"),
    Operation("table.stats.bh_fdr", "table.stats.bh_fdr",
              doc="Benjamini-Hochberg FDR correction over a p-value "
                  "family (adjusted p + reject flags)"),
    Operation("table.stats.anova", "table.stats.anova",
              doc="one-way ANOVA F-test + eta-squared effect size"),
    Operation("table.stats.cohens_kappa", "table.stats.cohens_kappa",
              doc="Cohen's kappa inter-rater agreement"),
    Operation("table.stats.levene_bf", "table.stats.levene_bf",
              doc="Brown-Forsythe variance-homogeneity F-test"),
    Operation("table.stats.kendall_tau", "table.stats.kendall_tau",
              doc="Kendall's tau-b rank correlation (tie-adjusted)"),
    Operation("table.drift.mann_whitney", "table.drift.mann_whitney",
              doc="Mann-Whitney U rank-sum location test (tie-corrected)"),
    Operation("table.drift.cramer_von_mises",
              "table.drift.cramer_von_mises",
              doc="Cramér-von Mises integrated-ECDF drift test "
                  "(exact-integer rejection flags)"),
    Operation("table.stats.welch_ttest", "table.stats.welch_ttest",
              doc="Welch's unequal-variance two-sample t-test"),
    Operation("table.stats.spearman", "table.stats.spearman",
              doc="Spearman rank correlation (exact midranks)"),
    Operation("table.stats.crosstab_association",
              "table.stats.crosstab_association",
              doc="chi2 / Cramér's V / mutual information between "
                  "two categorical columns"),
    Operation("table.stats.chi2_gof_bh", "table.stats.chi2_gof_bh",
              doc="per-group chi2 GOF screen with Benjamini-Hochberg FDR"),
    Operation("table.ml.ridge_regression", "table.ml.ridge_regression",
              doc="L2-regularized OLS via penalized normal equations"),
    Operation("table.ml.kfold_cv", "table.ml.kfold_cv",
              doc="k-fold CV OLS from one Gram aggregate (Gram subtraction)"),
    Operation("table.stats.cuped", "table.stats.cuped",
              doc="CUPED covariate variance reduction for experiments"),
    Operation("table.stats.bootstrap_ab_diff",
              "table.stats.bootstrap_ab_diff",
              doc="Poisson-bootstrap CI for the A/B uplift (diff in means)"),
    Operation("table.privacy.dp_noisy_counts",
              "table.privacy.dp_noisy_counts",
              doc="Laplace-mechanism DP count release (derived noise)"),
    Operation("table.stats.bootstrap_ci", "table.stats.bootstrap_ci",
              doc="Poisson-bootstrap percentile CI for the mean"),
    Operation("table.ml.gmm_em", "table.ml.gmm_em",
              doc="1-D two-component Gaussian mixture fit by EM"),
    Operation("table.ml.ndcg", "table.ml.ndcg",
              doc="NDCG@k + MRR ranking metrics per query"),
    Operation("table.ml.average_precision", "table.ml.average_precision",
              doc="average precision / PR-AUC ranking metric"),
    Operation("table.ml.regression_stump", "table.ml.regression_stump",
              doc="exact CART split search (GBDT inner loop)"),
    Operation("table.privacy.t_closeness", "table.privacy.t_closeness",
              doc="t-closeness distribution-distance release gate"),
    Operation("table.drift.ks", "table.drift.ks",
              doc="two-sample Kolmogorov-Smirnov drift test"),
    Operation("table.ml.linear_regression", "table.ml.linear_regression",
              doc="multi-feature OLS via distributed normal equations"),
    Operation("table.ml.logistic_regression", "table.ml.logistic_regression",
              doc="full-batch gradient-descent logistic regression"),
    Operation("table.ml.scale_features", "table.ml.scale_features",
              doc="min-max / z-score feature scaling"),
    Operation("table.weights.rake", "table.weights.rake",
              doc="raking/IPF survey-weight calibration to target "
                  "row/column margins (fixed-iteration, grid-bounded)"),
    Operation("table.ml.uplift_qini", "table.ml.uplift_qini",
              doc="Qini/uplift curve: incremental treated conversions "
                  "by score depth + gain over random targeting"),
    Operation("table.ml.lift_table", "table.ml.lift_table",
              doc="lift/gains model-evaluation table"),
    Operation("table.ml.auc_roc", "table.ml.auc_roc",
              doc="exact ROC AUC via midrank statistic"),
    Operation("table.ml.calibration_bins", "table.ml.calibration_bins",
              doc="reliability-diagram bins + ECE contributions"),
    Operation("table.ml.isotonic_calibration",
              "table.ml.isotonic_calibration",
              doc="isotonic (PAV) calibration by minimax closed form on "
                  "the binned grid"),
    Operation("table.weighted_percentile", "table.weighted_percentile",
              doc="exact weighted percentiles (distinct-value grid)"),
    Operation("table.ml.one_hot", "table.ml.one_hot",
              doc="one-hot encoding (map-only, pinnable vocabulary)"),
    Operation("table.variance.price_volume_mix",
              "table.variance.price_volume_mix",
              doc="price-volume-mix variance bridge between two periods"),
    Operation("table.ml.classification_report",
              "table.ml.classification_report",
              doc="confusion matrix + precision/recall/F1 in one scan"),
    Operation("table.concentration.gini", "table.concentration.gini",
              doc="exact Gini coefficient (distinct-value prefix algebra)"),
    Operation("table.concentration.hhi", "table.concentration.hhi",
              doc="Herfindahl-Hirschman index per group"),
    Operation("table.concentration.entropy", "table.concentration.entropy",
              doc="Shannon entropy of a categorical column"),
    Operation("table.quality.benford", "table.quality.benford",
              doc="Benford first-digit fabrication screen"),
    Operation("table.privacy.l_diversity", "table.privacy.l_diversity",
              doc="l-diversity audit over quasi-identifier classes"),
    Operation("table.ml.target_encode", "table.ml.target_encode",
              doc="smoothed target encoding (decimal-exact)"),
    Operation("table.privacy.k_anonymity", "table.privacy.k_anonymity",
              doc="k-anonymity equivalence-class audit"),
    Operation("table.merge.upsert", "table.merge.upsert",
              doc="upsert source into target by key"),
    Operation("table.agg.incremental_maintain", "table.agg.incremental_maintain",
              doc="incremental materialized-aggregate maintenance from CDC"),
    Operation("table.quality.expectations", "table.quality.expectations",
              doc="declarative expectation suite in one aggregate scan"),
    Operation("table.quality.audit", "table.quality.audit",
              doc="single-pass data-quality constraint audit"),
    Operation("table.scd2.from_changes", "table.scd2.from_changes",
              doc="SCD2 validity intervals from a change log"),
    Operation("table.validate.schema", "table.validate.schema",
              doc="schema-contract report, no data scan"),
    Operation("table.diff", "table.diff",
              doc="added/removed/changed diff between table versions"),
    Operation("table.winsorize", "table.winsorize",
              doc="percentile outlier clipping"),
    Operation("table.apply_changes", "table.apply_changes",
              doc="CDC upsert/delete changelog applied to a base snapshot"),
    Operation("table.quantile_bins", "table.quantile_bins",
              doc="equal-frequency quantile bin index"),
    Operation("table.corr_matrix", "table.corr_matrix",
              doc="one-pass pairwise correlation matrix"),
    Operation("table.impute_nulls", "table.impute_nulls",
              doc="mean/median NULL imputation"),
    Operation("table.skew_report", "table.skew_report",
              doc="heavy-key diagnostic before big joins"),
    Operation("table.drift.psi", "table.drift.psi",
              doc="PSI distribution-drift report between versions"),
    Operation("table.checksum.ranges", "table.checksum.ranges",
              doc="per-bucket order-insensitive content checksum"),
    Operation("table.regression.by_group", "table.regression.by_group",
              doc="per-group OLS slope/intercept/r2 in one pass"),
    Operation("table.kth_smallest", "table.kth_smallest",
              doc="exact order statistic by distributed selection"),
    Operation("table.association.triples", "table.association.triples",
              doc="Apriori level-3 frequent triples"),
    Operation("table.association.pairs", "table.association.pairs",
              doc="market-basket support/confidence/lift pairs"),
    Operation("table.profile", "table.profile",
              doc="one-scan per-column profile report"),
]
