"""Run every queries() entry vs its oracle_sql() in DuckDB at a given sf dir,
mimicking the driver's correctness gate (row count + sorted-column values).

The comparison is EXACT — canonical string equality per cell, no float
tolerance — because the driver hashes exact canonical values; a tolerant
local check let the round-1 geo_tile BIGINT-vs-DOUBLE mismatch through
("400" vs "400.0"). Local green must predict driver green.

The session is ``local[N]`` with N = ``SPARK_GRAFT_CPUS`` (default: this
machine's cores) and 0.75 GB of driver heap per core (at least 4 GB). Each
task slot holds its own Python workers (about 130 MB each, up to three per
slot), so a master wider than the machine can run it out of memory: on a
4-core, 15 GB machine the sf0.01 run at ``local[32]`` held about 128
Python workers and 13 GB, and has lost its JVM there; at ``local[4]`` it
peaks under 6 GB.

Usage: python scripts/check_oracle.py [sf_dir] [query_name ...]
"""

import os
import sys
import time

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

sys.path.insert(0, ".")
import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical string form: sorted columns, every cell stringified with its
    native dtype repr (int64 500 -> "500", float64 500.0 -> "500.0"), rows
    sorted. Matches what the driver's value hash sees."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: str(v))
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _values_equal(a, b) -> bool:
    return str(a) == str(b)


def main():
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", f"{max(4, 3 * CPUS // 4)}g")
        .config("spark.sql.adaptive.enabled", "true")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_fail = 0
    for name in sorted(queries):
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            got = _canon(queries[name](spark, SF_DIR).toPandas())
        except Exception as exc:
            print(f"FAIL {name}: spark raised {exc!r}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(got)} rows "
                  f"({time.time() - t0:.1f}s)")
            continue
        exp = _canon(duck.execute(oracles[name]).df())
        status = "ok  "
        if list(got.columns) != list(exp.columns):
            status = f"FAIL cols {list(got.columns)} vs {list(exp.columns)}"
        elif len(got) != len(exp):
            status = f"FAIL rows {len(got)} vs {len(exp)}"
        else:
            for c in got.columns:
                bad = [
                    (i, x, y)
                    for i, (x, y) in enumerate(zip(got[c], exp[c]))
                    if not _values_equal(x, y)
                ]
                if bad:
                    status = f"FAIL {c}: {bad[:3]}"
                    break
        if status != "ok  ":
            n_fail += 1
        print(f"{status} {name}: {len(got)} rows ({time.time() - t0:.1f}s)")
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
