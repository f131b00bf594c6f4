"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given scale factor
and compares against its ``oracle_sql()`` twin executed by DuckDB on
the same parquet files: row count, sorted column names, and exact
(order-insensitive) value equality. Strictly *at least* as strict as
the driver's value-hash — if this passes, any reasonable hash matches.

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [--only q01,q02]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def _norm_val(v):
    """Canonical string for a single value (exact, not rounded)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (np.floating,)):
        return repr(float(v))
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if v is pd.NaT:
        return "NULL"
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_norm_val(x) for x in v) + "]"
    # datetime.datetime, Decimal, str, int
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d 00:00:00.000000")
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    return str(v)


def normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_norm_val(v) for v in row))
    out.sort()
    return out


def _canon_dtype(dt) -> str:
    k = dt.kind if hasattr(dt, "kind") else "O"
    if k == "M":
        return "timestamp"
    if k in ("i", "u"):
        return str(dt)
    if k == "f":
        return "float64"
    if k == "b":
        return "bool"
    return "object"


def compare(name, spark_pdf, duck_pdf, verbose=False):
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if [c.lower() for c in sc] != [c.lower() for c in dc]:
        problems.append(f"columns: spark={sc} duck={dc}")
        return problems
    duck_pdf = duck_pdf.rename(columns=dict(zip(dc, sc)))
    for c in sc:
        a, b = _canon_dtype(spark_pdf[c].dtype), _canon_dtype(duck_pdf[c].dtype)
        if a != b:
            problems.append(f"dtype[{c}]: spark={a} duck={b}")
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if a != b:
        n_diff = sum(1 for x, y in zip(a, b) if x != y) + abs(len(a) - len(b))
        problems.append(f"values differ ({n_diff} rows)")
        if verbose:
            shown = 0
            for x, y in zip(a, b):
                if x != y and shown < 5:
                    problems.append(f"  spark={x}")
                    problems.append(f"  duck ={y}")
                    shown += 1
            only_a = set(a) - set(b)
            only_b = set(b) - set(a)
            for x in list(only_a)[:3]:
                problems.append(f"  only-spark={x}")
            for x in list(only_b)[:3]:
                problems.append(f"  only-duck ={x}")
    return problems


def connect(sf: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table in `sf`."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from cr_data_pipeline_project_spark.session import get_session

    spark = get_session("oracle-check", shuffle_partitions=16)

    con = connect(args.sf)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    n_pass = n_fail = n_skip = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            spark_pdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(spark_pdf)} rows, rows-only check)")
            n_skip += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf, verbose=args.verbose)
        dt = time.time() - t0
        if problems:
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(f"     {p}")
            n_fail += 1
        else:
            print(f"PASS {name} ({dt:.1f}s, {len(spark_pdf)} rows)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
