"""Value-level replica of the DRIVER's pandas canonicalization over
the 50-slot correctness window (the first 50 registry entries).

tools/verify_queries.py compares python-native values (Spark collect()
vs DuckDB fetchall()) plus a bind-time dtype screen; the driver
instead canonicalizes BOTH result sets through pandas
(``_canon -> DataFrame.sort_values`` in its r4 traceback) and hashes
the values dtype-sensitively — which is how six type-identical-but-
pandas-skewed oracles went red in CORRECTNESS_r04 while the local
gate passed them.  This tool closes the remaining representation gap:
Spark results go through ``toPandas()``, oracle results through
``.df()``, every cell is canonicalized from its PANDAS representation
(numpy scalars unwrapped, floats by exact repr — the BM25 1-ulp
lesson says bit-equality is the bar — NaN/None/NaT as NULL, dates and
timestamps by isoformat with a naive midnight as its date), columns
aligned by sorted name, rows sorted, then compared.

Usage: python tools/driver_sim.py [sf_dir] [n_window] [name ...]
Defaults: /root/testdata/sf0.01, first 50 entries.  Names select from
the FULL registry (not just the window) and unknown names are an
error — naming an op must never silently run nothing; a bare
``driver_sim.py <sf_dir> <name>`` also works (any non-integer second
argument is treated as the first name).
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from verify_queries import create_views  # noqa: E402


def cell(v):
    import numpy as np
    import pandas as pd

    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NULL"  # pandas renders SQL NULL as NaN
        # exact repr — a 1-ulp MAGNITUDE skew must FAIL here (the BM25
        # association lesson).  Signed zero alone is normalized
        # (+0.0), matching verify_queries.canon: whether the driver
        # distinguishes -0.0 is unknown, and flagging it would false-
        # alarm ops whose only difference is an underflow sign.
        return repr(v + 0.0)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, dt.date):  # datetime and pd.Timestamp included
        # a DATE column reaches pandas as datetime.date from Spark's
        # toPandas but as a midnight Timestamp from DuckDB's .df(), so
        # a naive midnight renders as its date
        if isinstance(v, dt.datetime) and v.tzinfo is None:
            if v == dt.datetime.combine(v.date(), dt.time()):
                v = v.date()
        return v.isoformat()
    return str(v)


def frame_canon(df):
    cols = sorted(df.columns)
    rows = sorted(
        tuple(cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    return cols, rows


def main() -> int:
    import duckdb

    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    rest = sys.argv[2:]
    n_window = 50
    if rest and rest[0].isdigit():
        n_window = int(rest[0])
        rest = rest[1:]
    only = set(rest)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"ERROR: unknown query names: {sorted(unknown)}")
            return 2
        window = [k for k in qs if k in only]  # full registry, not window
    else:
        window = list(qs)[:n_window]

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    create_views(con, sf_dir)

    n_pass = n_rowsonly = n_fail = 0
    for name in window:
        try:
            sp = qs[name](spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark/toPandas raised "
                  f"{type(e).__name__}: {str(e)[:160]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: rows={len(sp)}")
            n_rowsonly += 1
            continue
        try:
            du = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb/df raised: {str(e)[:160]}")
            n_fail += 1
            continue
        try:  # the driver's sort — list/array cells crash exactly here
            scols, srows = frame_canon(sp)
            dcols, drows = frame_canon(du)
        except Exception as e:
            print(f"FAIL  {name}: pandas canon raised "
                  f"{type(e).__name__}: {str(e)[:160]}")
            n_fail += 1
            continue
        problems = []
        if scols != dcols:
            problems.append(f"cols spark={scols} duck={dcols}")
        elif len(srows) != len(drows):
            problems.append(f"rows spark={len(srows)} duck={len(drows)}")
        elif srows != drows:
            diffs = [(a, b) for a, b in zip(srows, drows) if a != b][:2]
            problems.append(f"values differ, first: {diffs}")
        if problems:
            print(f"FAIL  {name}: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(srows)} rows)")
            n_pass += 1
    print(f"\npass={n_pass} rows-only={n_rowsonly} fail={n_fail}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
