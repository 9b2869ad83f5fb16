"""Driver-harness compatibility regression witnesses (round 5).

CORRECTNESS_r04 produced the project's first three driver-red rows,
all from ONE cause: the driver canonicalizes result sets through
pandas (``_canon -> DataFrame.sort_values``), which floats DuckDB
HUGEINT (any bare ``sum(BIGINT)``) into ``21.0``-vs-``21`` hash
mismatches and crashes (``unhashable type: 'list'``) on list-typed
columns.  tools/verify_queries.py now rejects driver-unsafe DECLARED
oracle types; these tests pin (a) that the detector fires on
deliberately-injected regressions of both shapes, (b) that every
registered oracle binds to driver-safe types (a registry-wide sweep —
DuckDB resolves types at bind time, so this costs no execution), and
(c) that the six r4-affected oracles execute to integer/string pandas
dtypes under ``fetch_df()`` — the exact surface the driver hashes.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)

from driver_sim import frame_canon  # noqa: E402
from verify_queries import (  # noqa: E402
    create_views,
    driver_unsafe_types,
    oracle_dtype_offenders,
)

SF = "/root/testdata/sf0.001"

# the six oracles r4 proved (3 red) or the judge flagged (3 latent)
# driver-unsafe before the round-5 CAST/scalarize fixes
R4_AFFECTED = (
    "kmeans_update",
    "event_transitions",
    "bpe_ids",
    "dialog_assemble",
    "token_budget_cap",
    "changepoint_cusum",
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    create_views(c, SF)
    return c


@pytest.fixture(scope="module")
def oracles():
    import __spark_entry__ as entrymod

    return entrymod.oracle_sql()


def test_detector_fires_on_injected_regressions(con):
    # the r4 class, re-injected on purpose: a bare integer sum
    # (HUGEINT) and a list-valued column must BOTH be flagged
    hug = con.sql("SELECT sum(o_orderkey) AS s FROM orders")
    assert driver_unsafe_types(hug.types) == ["HUGEINT"]
    lst = con.sql("SELECT [1, 2] AS ids")
    assert driver_unsafe_types(lst.types)
    st = con.sql("SELECT {'a': 1} AS s")
    assert driver_unsafe_types(st.types)
    # fixed-size ARRAY ('INTEGER[3]') has no '[]' substring and no
    # STRUCT/MAP/LIST prefix, but fetch_df renders it as numpy arrays
    # — just as unhashable to the driver's sort as LIST
    arr = con.sql("SELECT array_value(1, 2, 3) AS a")
    assert driver_unsafe_types(arr.types)
    # a decimal literal binds as DECIMAL(2,1): fetch_df floats it while
    # Spark's toPandas yields decimal.Decimal, so the hashes differ
    dec = con.sql("SELECT 0.5 AS d")
    assert driver_unsafe_types(dec.types) == ["DECIMAL(2,1)"]
    # and the fixed shapes must NOT be flagged
    ok = con.sql(
        "SELECT CAST(sum(o_orderkey) AS BIGINT) AS s, "
        "array_to_string([1, 2], ',') AS ids_csv FROM orders"
    )
    assert driver_unsafe_types(ok.types) == []


def test_driver_sim_canonicalizes_temporal_cells_alike(spark, con):
    """A DATE reaches pandas as datetime.date from Spark's toPandas but
    as a midnight Timestamp from DuckDB's .df(); the simulator's canon
    must render both the same, and keep a timestamp's time of day."""
    sql = "SELECT DATE '2026-08-21' AS d, TIMESTAMP '2026-08-21 13:05:00.5' AS t"
    sp = spark.sql(sql).toPandas()
    du = con.sql(sql).df()
    assert frame_canon(sp) == frame_canon(du) == (
        ["d", "t"],
        [("2026-08-21", "2026-08-21T13:05:00.500000")],
    )


def test_registry_wide_oracle_dtype_sweep(con, oracles):
    """Every registered oracle must bind to driver-safe result types.
    Bind-time only (no fetch): the whole registry sweeps in seconds."""
    offenders = oracle_dtype_offenders(con, oracles)
    assert offenders == {}, (
        f"driver-unsafe oracle output types (pandas canon floats "
        f"HUGEINT/DECIMAL / crashes on nested — CAST sums to BIGINT, "
        f"decimal ratios to DOUBLE): {offenders}"
    )


def test_r4_affected_oracles_fetch_df_dtypes(con, oracles):
    """The six fixed oracles, executed under fetch_df() — the driver's
    actual canonicalization surface: every column must come back as an
    integer or object (string) pandas dtype, never float64."""
    for name in R4_AFFECTED:
        df = con.sql(oracles[name]).df()
        floaty = [
            c for c in df.columns if df[c].dtype.kind not in ("i", "u", "O")
        ]
        assert floaty == [], f"{name}: non-integer/str dtypes {floaty}"
        assert len(df) > 0, f"{name}: empty oracle result"
