"""Shared fixtures: one SparkSession per test session + oracle comparator.

The comparator replicates the driver's check STRICTLY: run the Spark query
and the DuckDB oracle over the same parquet, sort columns by name, compare
row count, column names, and order-insensitive exact values (floats must be
bit-identical — see ``functions/determinism.py`` for why that is possible).
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.schemas import (  # noqa: E402
    TESTDATA_TABLES,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.session import (  # noqa: E402
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

#: per-test wall-time ceiling (seconds) on the ``setup`` and ``call``
#: phases: 3x the slowest test (15 s on a 4-core host), so one new slow
#: oracle, test or class fixture build fails by name instead of quietly
#: eating the suite's time budget
CALL_CEILING_S = 45.0


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_makereport(call):
    report = (yield).get_result()
    if (
        report.when in ("setup", "call")
        and report.passed
        and call.duration > CALL_CEILING_S
    ):
        report.outcome = "failed"
        report.longrepr = (
            f"{report.when} phase took {call.duration:.1f} s, over the "
            f"{CALL_CEILING_S:.0f} s per-test ceiling (tests/conftest.py)"
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cryptopulse-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for sf_dir, prefix in ((SF_ORACLE, ""), (SF_SMOKE, "smoke_")):
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {prefix}{t} AS "
                f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, rows sorted by all columns."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]")
        elif s.dtype == object:
            s = s.map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
        out[c] = s
    df = pd.DataFrame(out)
    return df.sort_values(list(df.columns), ignore_index=True, kind="mergesort")


def assert_oracle_match(spark_df, ddb: duckdb.DuckDBPyConnection, sql: str) -> None:
    left = _canon(spark_df.toPandas())
    right = _canon(ddb.execute(sql).df())
    assert list(left.columns) == list(right.columns), (
        f"column mismatch: spark={list(left.columns)} oracle={list(right.columns)}"
    )
    # dtype-strict like the driver: an int32 Spark column (e.g. a bare
    # row_number) vs DuckDB's BIGINT is a real contract violation even
    # though the values compare equal as Python ints.
    assert list(left.dtypes) == list(right.dtypes), (
        f"dtype mismatch: spark={left.dtypes.to_dict()} oracle={right.dtypes.to_dict()}"
    )
    assert len(left) == len(right), f"row count: spark={len(left)} oracle={len(right)}"
    for c in left.columns:
        lv, rv = left[c].tolist(), right[c].tolist()
        for i, (a, b) in enumerate(zip(lv, rv)):
            if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
                ok = (a is None or (isinstance(a, float) and math.isnan(a))) and (
                    b is None or (isinstance(b, float) and math.isnan(b))
                )
            elif isinstance(a, float) or isinstance(b, float):
                ok = a == b  # exact: determinism discipline makes this hold
            else:
                ok = a == b
            assert ok, f"value mismatch col={c} row={i}: spark={a!r} oracle={b!r}"
