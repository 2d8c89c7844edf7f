"""Local emulation of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
sf dir, compare row count / column names / sorted values."""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry
from nebula_spark.session import default_parallelism, get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main(sf_dir: str, only: list[str]):
    spark = get_spark("check-entry", parallelism=default_parallelism())
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = sorted(df.columns)
            rows = [tuple(norm(r[c]) for c in cols) for r in df.collect()]
            rows.sort()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(rows)} rows, {time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = sorted(rel.columns)
            idx = [rel.columns.index(c) for c in ocols]
            orows = [tuple(norm(r[i]) for i in idx) for r in rel.fetchall()]
            orows.sort()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            failures += 1
            continue
        if cols != ocols:
            print(f"FAIL {name}: columns {cols} != oracle {ocols}")
            failures += 1
            continue
        if len(rows) != len(orows):
            print(f"FAIL {name}: rowcount {len(rows)} != oracle {len(orows)}")
            failures += 1
            continue
        bad = sum(1 for a, b in zip(rows, orows) if a != b)
        if bad:
            for a, b in zip(rows, orows):
                if a != b:
                    print(f"   first diff:\n   spark  {a}\n   oracle {b}")
                    break
            print(f"FAIL {name}: {bad}/{len(rows)} value mismatches")
            failures += 1
        else:
            print(f"PASS {name}: {len(rows)} rows, {time.time()-t0:.1f}s")
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return failures


if __name__ == "__main__":
    # argv: an existing directory selects the sf dir; anything else
    # filters to those query names (previously a dir argument silently
    # filtered out every query and reported a vacuous ALL PASS)
    args = sys.argv[1:]
    dirs = [a for a in args if os.path.isdir(a)]
    names = [a for a in args if not os.path.isdir(a)]
    sf = dirs[0] if dirs else os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    sys.exit(1 if main(sf, names) else 0)
