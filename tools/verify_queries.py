"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` in DuckDB over
the same sf dir; compare row count, column names, and order-insensitive
values.  Usage: python tools/verify_queries.py [sf_dir] [name ...]

Driver-compat typing gate (round-5 hardening, after the first driver
reds in r4): the DRIVER canonicalizes result sets through pandas
(`_canon -> DataFrame.sort_values` in its traceback), which

- converts DuckDB HUGEINT (any bare ``sum(BIGINT)``) to float64, so an
  integer-exact oracle hashes as ``21.0`` against Spark's ``21``; and
- raises ``TypeError: unhashable type: 'list'`` on list-typed columns.

The old gate fetched DuckDB via ``fetchall()`` (python ints, no crash)
and so PASSED all six ops the driver rejected.  This gate now rejects
any oracle whose DECLARED DuckDB result type would skew or crash the
driver's pandas path (HUGEINT / UHUGEINT / DECIMAL / LIST / STRUCT /
MAP / UNION), before the value comparison even runs — the engine-level
equivalent of canonicalizing through ``fetch_df()``, with no pandas
date/NaT representation churn on the 246 already-green entries."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def driver_unsafe_types(types) -> list:
    """DuckDB result types the driver's pandas canon mishandles:
    HUGEINT family floats (loses integer exactness in the hash),
    DECIMAL floats too (fetch_df gives float64 where Spark's toPandas
    gives decimal.Decimal), and nested types crash ``sort_values``
    (unhashable).  ``types`` is the relation's ``.types``; returns the
    offending type strings."""
    bad = []
    for t in types:
        s = str(t).upper()
        if (
            "HUGEINT" in s
            # a bare '[' also catches fixed-size ARRAY ('INTEGER[3]'),
            # which fetch_df renders as numpy arrays — just as
            # unhashable to the driver's sort as LIST
            or "[" in s
            or s.startswith(("STRUCT", "MAP", "LIST", "UNION", "DECIMAL"))
        ):
            bad.append(s)
    return bad


def create_views(con, sf_dir: str) -> None:
    """Register the standard parquet tables as DuckDB views — shared
    by the gate, audit check 118, and tests/test_driver_compat.py."""
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def oracle_dtype_offenders(con, oracles: dict) -> dict:
    """Bind every oracle (no execution — DuckDB resolves types at
    bind time) and return {slug: offending-types-or-error} for any
    whose declared output the driver's pandas canon would mishandle.
    The single definition behind the gate, explain_audit check 118,
    and the pytest sweep."""
    offenders = {}
    for slug, sql in oracles.items():
        try:
            types = con.sql(sql).types
        except Exception as e:
            offenders[slug] = f"bind failed: {str(e)[:120]}"
            continue
        bad = driver_unsafe_types(types)
        if bad:
            offenders[slug] = bad
    return offenders


def canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9) + 0.0)  # + 0.0 canonicalizes -0.0
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (int,)):
        return str(v)
    return str(v)


def rows_canon(rows):
    return sorted(tuple(canon(v) for v in r) for r in rows)


def main() -> int:
    import duckdb

    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify-queries")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    create_views(con, sf_dir)

    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: rows={len(srows)} cols={scols}")
            n_rowsonly += 1
            if len(srows) == 0:
                print(f"  WARN {name}: zero rows")
            continue
        try:
            res = con.sql(oracles[name])
            bad = driver_unsafe_types(res.types)
            if bad:
                # short-circuit: a value diff under a skewed dtype is
                # noise — report the type problem alone
                print(
                    f"FAIL  {name}: driver-unsafe oracle dtypes {bad} "
                    "(pandas canon floats HUGEINT/DECIMAL / crashes on "
                    "nested — CAST sums to BIGINT, decimal ratios to "
                    "DOUBLE, scalarize arrays)"
                )
                n_fail += 1
                continue
            drows = res.fetchall()
            dcols = list(res.columns)
        except Exception as e:
            print(f"FAIL  {name}: duckdb raised: {str(e)[:200]}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={scols} duck={dcols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            # align column order by name
            dmap = {c: i for i, c in enumerate(dcols)}
            perm = [dmap[c] for c in scols]
            d_aligned = [tuple(r[i] for i in perm) for r in drows]
            a, b = rows_canon(srows), rows_canon(d_aligned)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diffs}")
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
