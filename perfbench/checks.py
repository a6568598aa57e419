"""Output checks, run outside the timed region.

- ``fingerprint``: row count plus an order-insensitive hash of a table,
  computed here with Spark built-ins (not ``kiara_spark.hashing``).  Doubles
  are rounded to 9 significant digits first, so a last-bit difference in a
  floating-point sum cannot flip the hash.
- ``SqlOracle``: re-runs generated SQL and filter requests in DuckDB over
  the same parquet files and compares the 20-row page the request showed.
"""

from __future__ import annotations

import decimal
import math

from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGE_ROWS = 20


def _normalize(col, dtype):
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        x = col.cast("double")
        return F.when(x == 0, F.lit("0")).otherwise(
            F.format_string("%.8e", x))
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda e: _normalize(e, dtype.elementType))
    if isinstance(dtype, T.MapType):
        return F.transform_values(
            col, lambda k, v: _normalize(v, dtype.valueType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_normalize(col[f.name], f.dataType).alias(f.name)
                          for f in dtype.fields])
    return col


def fingerprint(df) -> list:
    """[row count, sum of row hashes mod 2**64, xor of row hashes, columns]."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    row = F.to_json(F.struct(*[_normalize(F.col(f"`{f.name}`"), f.dataType)
                               .alias(f.name) for f in fields]))
    h = F.xxhash64(row)
    agg = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.bit_xor("h").alias("x")).collect()[0]
    s = int(agg["s"] or 0) % (1 << 64)
    return [int(agg["n"]), f"{s:016x}", f"{(agg['x'] or 0) & ((1 << 64) - 1):016x}",
            ",".join(f.name for f in fields)]


def _same(a, b) -> bool:
    """Compare a page cell (a string, or None) with a DuckDB value."""
    if b is None or a is None:
        return a is None and b is None
    if isinstance(b, (int, float, decimal.Decimal)) and not isinstance(b, bool):
        try:
            x, y = float(a), float(b)
        except ValueError:
            return False
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
    return a == str(b)


class SqlOracle:
    """DuckDB over the fixture parquet files, one view per table."""

    def __init__(self, paths: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for name, path in paths.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self._cache: dict[tuple, list] = {}

    def rows(self, table: str, sql: str) -> list[tuple]:
        key = (table, sql)
        if key not in self._cache:
            self.con.execute(f"CREATE OR REPLACE VIEW data AS SELECT * FROM {table}")
            self._cache[key] = self.con.execute(sql).fetchall()
        return self._cache[key]

    def check_ordered_page(self, table: str, sql: str, page: dict) -> str | None:
        """An ORDER BY query: the page is exactly DuckDB's first rows."""
        want = self.rows(table, sql)[:PAGE_ROWS]
        got = page["rows"]
        if len(got) != len(want):
            return f"page has {len(got)} rows, oracle {len(want)}"
        for g, w in zip(got, want):
            cells = [g[c] for c in page["columns"]]
            if not all(_same(a, b) for a, b in zip(cells, w)):
                return f"row {cells} != oracle {list(w)}"
        return None

    def check_filter_page(self, table: str, where: str, page: dict) -> str | None:
        """An unordered filter: the page holds min(20, matches) rows, and
        every one of them matches in DuckDB."""
        want = self.rows(table, f"SELECT * FROM data WHERE {where}")
        got = page["rows"]
        if len(got) != min(PAGE_ROWS, len(want)):
            return f"page has {len(got)} rows, oracle {min(PAGE_ROWS, len(want))}"
        cols = page["columns"]
        pool = {tuple(str(v) if v is not None else None for v in w)
                for w in want}
        for g in got:
            cells = tuple(g[c] for c in cols)
            if cells not in pool:
                return f"row {cells} is not in the oracle's result"
        return None
