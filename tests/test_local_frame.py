"""``dq.session.local_frame`` against ``spark.createDataFrame(<list>)``:
for every audit schema it writes, the same schema and the same rows —
nulls, dates, naive datetimes with microseconds, collected ``Row`` s and
empty inputs — under a UTC and a non-UTC process time zone, with the
frame held by the JVM as a local relation."""

import datetime as dt
import os
import time

import pytest

from dq.checkpoint import CHECKPOINT_SCHEMA
from dq.checks_job import (
    CHECKPOINT_TABLES_SCHEMA,
    FRESHNESS_SCHEMA,
    ROW_COUNT_HISTORY_SCHEMA,
)
from dq.scoring import RESULT_SCHEMA
from dq.session import local_frame

TS = dt.datetime(2025, 10, 3, 6, 7, 8, 123456)
# a wall time that does not exist in America/Los_Angeles (DST gap)
GAP_TS = dt.datetime(2025, 3, 9, 2, 30, 0, 1)
DAY = dt.date(2025, 10, 3)

CASES = {
    "check_results": (RESULT_SCHEMA, [
        ("DEV", "db", "t", "2025-10-03", "row_count_check", "completeness",
         True, "50 rows"),
        ("PROD", "db", "t", None, "null_columns_check", "completeness",
         False, "çé ✓ multi-byte"),
        (None,) * 8,
    ]),
    "freshness": (FRESHNESS_SCHEMA, [
        ("e1", TS, "DEV", "db", "t", "2025-10-02", "2025-10-02", 1, True),
        ("e1", GAP_TS, "PROD", "db", "t", None, None, None, False),
        (None,) * 9,
    ]),
    "checkpoint": (CHECKPOINT_SCHEMA, [
        ("scope", "e1", DAY, "done", TS),
        ("scope", "e1", dt.date(1969, 12, 31), "done", GAP_TS),
        (None,) * 5,
    ]),
    "checkpoint_tables": (CHECKPOINT_TABLES_SCHEMA, [
        ("e1", "DEV", "db", "t", "done", TS),
        (None,) * 6,
    ]),
    "row_count_history": (ROW_COUNT_HISTORY_SCHEMA, [
        ("e1", TS, "DEV", "db", "t", 2**40),
        ("e1", GAP_TS, "PROD", "db", "t", 0),
        (None,) * 6,
    ]),
}


@pytest.fixture(params=["UTC", "America/Los_Angeles"])
def process_tz(request):
    """Naive datetimes are read in the process time zone on both paths."""
    saved = os.environ.get("TZ")
    os.environ["TZ"] = request.param
    time.tzset()
    yield request.param
    if saved is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = saved
    time.tzset()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert sorted(got.toJSON().collect()) == sorted(want.toJSON().collect())
    # toJSON stops at milliseconds; collected rows carry the microseconds
    assert (sorted(got.collect(), key=repr)
            == sorted(want.collect(), key=repr))
    assert "LocalTableScan" in _plan(got)
    assert "ExistingRDD" not in _plan(got)


@pytest.mark.parametrize("table", sorted(CASES))
def test_local_frame_matches_list_path(spark, process_tz, table):
    schema, rows = CASES[table]
    _assert_same(spark, rows, schema)
    _assert_same(spark, [], schema)
    # collected Rows — what the checks job carries forward from the store
    collected = spark.createDataFrame(rows, schema).collect()
    _assert_same(spark, collected, schema)


def test_local_frame_keeps_instants(spark, process_tz):
    """The stored instant is the naive wall time in the process zone."""
    from pyspark.sql import functions as F
    df = local_frame(spark, [(TS,)], "ts timestamp")
    micros = df.select(F.unix_micros("ts")).first()[0]
    assert micros == int(time.mktime(TS.timetuple())) * 10**6 + 123456
