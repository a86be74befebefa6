from __future__ import annotations

import os

import duckdb
import pytest

from hama_spark.session import TABLES, get_spark

# The suite runs on sf0.001 fixtures where shuffle stages are scheduling-floor
# bound: 4 post-shuffle tasks measured ~5% faster than 32 over a 4-file probe
# (105s vs 111s) with no result dependence on the partition count. An explicit
# $SPARK_GRAFT_SHUFFLE still wins.
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="hama_spark_tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    """DuckDB oracle with the driver tables registered as views
    (mirrors the driver's correctness harness)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def tables(spark):
    from hama_spark.session import load_tables

    return load_tables(spark, SF_DIR)


def assert_df_equals_oracle(df, duck_con, sql, sort_cols=None, tol=None):
    """Order-insensitive comparison of a Spark DF against a DuckDB query."""
    import math

    spark_rows = [tuple(r) for r in df.collect()]
    duck_rows = [tuple(r) for r in duck_con.execute(sql).fetchall()]
    key = lambda t: tuple(str(x) for x in t)
    spark_rows.sort(key=key)
    duck_rows.sort(key=key)
    assert len(spark_rows) == len(duck_rows), (
        f"row count {len(spark_rows)} != oracle {len(duck_rows)}"
    )
    for sr, dr in zip(spark_rows, duck_rows):
        assert len(sr) == len(dr), f"width mismatch {sr} vs {dr}"
        for a, b in zip(sr, dr):
            if tol is not None and isinstance(a, float) and isinstance(b, float):
                assert math.isclose(a, b, rel_tol=tol, abs_tol=tol), f"{a} != {b} (row {sr} vs {dr})"
            else:
                assert a == b, f"{a} != {b} (row {sr} vs {dr})"


def _set_or_unset(spark, key, value):
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


def conf_matrix_outputs(spark, run):
    """``run()`` under every {AQE on, off} x {autoBroadcastJoinThreshold
    session default, -1} setting -> {(aqe, threshold): output}. Each
    setting is applied around the call and the session's prior values
    are restored afterwards, even when ``run`` raises."""
    aqe, bcast = "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold"
    before = {k: spark.conf.get(k, None) for k in (aqe, bcast)}
    outs = {}
    try:
        for a in ("true", "false"):
            for t in (before[bcast], "-1"):
                spark.conf.set(aqe, a)
                _set_or_unset(spark, bcast, t)
                outs[(a, t)] = run()
    finally:
        for k, v in before.items():
            _set_or_unset(spark, k, v)
    return outs
