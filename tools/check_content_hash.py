"""Check that a save hashes values exactly as ``dataframe_content_hash`` does.

Runs every ``queries()`` entry on Spark over the fixture tables in
``sf_dir`` (as ``tools/check_oracle.py`` does) and, for each output, compares
``hashing.dataframe_content_hash`` with the hash that
``DataRegistry.store_value`` observes while it writes the output to a
scratch warehouse.  A difference would break dedup against warehouses
written before the one-pass save.

Usage: python tools/check_content_hash.py sf_dir [query_name ...]

Prints IDENTICAL/DIFFER/ERROR per query and ``N identical, M differ`` at
the end (plus ``E errors`` when an output could not be hashed or written);
exits 1 unless every output is identical.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str] | None = None) -> int:
    args = list(sys.argv[1:] if argv is None else argv)
    if not args:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir, only = args[0], set(args[1:])

    import __spark_entry__ as entrymod
    from kiara_spark import KiaraContext
    from kiara_spark.hashing import dataframe_content_hash
    from kiara_spark.session import build_spark

    spark = build_spark(app_name="content-hash-check")
    spark.sparkContext.setLogLevel("ERROR")
    home = tempfile.mkdtemp(prefix="content-hash-check-")
    n_same = n_diff = n_err = 0
    try:
        ctx = KiaraContext(spark=spark, base_path=home)
        for name, fn in entrymod.queries().items():
            if only and name not in only:
                continue
            t0 = time.monotonic()
            try:
                sdf = fn(spark, sf_dir)
                scanned = dataframe_content_hash(sdf)
                value = ctx.register_table(sdf)
                ctx.data_registry.store_value(value)
                observed = value.content_hash()
            except Exception:
                print(f"ERROR {name}")
                traceback.print_exc(limit=4)
                n_err += 1
                continue
            if scanned == observed:
                n_same += 1
                status = "IDENTICAL"
            else:
                n_diff += 1
                status = f"DIFFER scan={scanned[:12]} write={observed[:12]}"
            print(f"{status} {name}  ({time.monotonic() - t0:.1f}s)")
    finally:
        shutil.rmtree(home, ignore_errors=True)
    print(f"\n{n_same} identical, {n_diff} differ"
          + (f", {n_err} errors" if n_err else ""))
    return 1 if n_diff or n_err else 0


if __name__ == "__main__":
    sys.exit(main())
