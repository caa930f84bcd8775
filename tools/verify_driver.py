#!/usr/bin/env python
"""Driver simulation: verify the driver contract the way the driver does.

Plain, untuned SparkSession (hostile non-UTC session timezone as a
probe), sf0.01, every ``queries()`` entry hash-compared against its
``oracle_sql()`` via DuckDB. Run from the repo root:

    python tools/verify_driver.py [sf_dir] [name ...]

Names restrict the run to those queries; with none, all of them run.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
NAMES = sys.argv[2:]


def main() -> int:
    from pyspark.sql import SparkSession

    # Deliberately NOT jobx_spark.session.get_spark: the driver builds
    # its own plain session; queries must pin UTC / configs themselves.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify_driver")
        .config("spark.sql.session.timeZone", "America/New_York")
        .getOrCreate()
    )

    import __spark_entry__ as e

    n = e.entry(spark).count()
    print(f"[OK ] entry(): {n} rows")

    from jobx_spark.oracle import compare, duck_connect

    qs, oracles = e.queries(), e.oracle_sql()
    missing = sorted(set(oracles) - set(qs))
    if missing:
        print(f"[FAIL] oracle_sql keys missing from queries(): {missing}")
        return 1
    unknown = sorted(set(NAMES) - set(qs))
    if unknown:
        print(f"[FAIL] not in queries(): {unknown}")
        return 1
    if NAMES:
        qs = {name: qs[name] for name in NAMES}

    con = duck_connect(SF_DIR)
    failed, no_oracle = [], []
    for name, fn in qs.items():
        if name not in oracles:
            no_oracle.append(name)
            continue
        try:
            res = compare(name, fn(spark, SF_DIR), con, oracles[name])
        except Exception as exc:  # noqa: BLE001 - report and keep going
            print(f"[FAIL] {name}: {type(exc).__name__}: {exc}")
            failed.append(name)
            continue
        print(res)
        if not res.ok:
            failed.append(name)
    for name in no_oracle:
        try:
            rows = qs[name](spark, SF_DIR).count()
            print(f"[OK ] {name}: rows-only check, {rows} rows")
        except Exception as exc:  # noqa: BLE001
            print(f"[FAIL] {name}: {type(exc).__name__}: {exc}")
            failed.append(name)

    print(
        f"\n{len(qs)} queries: {len(qs) - len(failed)} ok, "
        f"{len(failed)} failed, {len(no_oracle)} rows-only"
    )
    if failed:
        print("FAILED: " + ", ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
