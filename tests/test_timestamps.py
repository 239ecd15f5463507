"""Layer-1 pure-function tests: timestamp parsing and bucket math.

Bucket semantics are cross-checked against DuckDB's ``date_trunc`` (the
oracle engine), including Monday-aligned weeks.
"""

from __future__ import annotations

from datetime import datetime, timezone

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_uwheel_spark.functions.timestamps import (
    GRANULARITIES,
    bucket_start_sec,
    bucket_starts,
    datetime_to_us,
    parse_ts_literal,
    sec_to_datetime,
    secs_to_datetimes,
)


def test_parse_plain_datetime():
    ts = parse_ts_literal("2024-05-10 00:00:05")
    assert ts is not None
    assert ts.epoch_us == 1_715_299_205_000_000
    assert ts.second_aligned


def test_parse_rfc3339():
    assert parse_ts_literal("2024-05-10T00:00:05Z").epoch_us == 1_715_299_205_000_000
    assert (
        parse_ts_literal("2024-05-10T02:00:05+02:00").epoch_us == 1_715_299_205_000_000
    )


def test_parse_date_only():
    ts = parse_ts_literal("2024-05-10")
    assert ts.epoch_us == 1_715_299_200_000_000


def test_parse_subsecond_not_aligned():
    ts = parse_ts_literal("2024-05-10 00:00:05.123456")
    assert ts.epoch_us == 1_715_299_205_123_456
    assert not ts.second_aligned


def test_parse_non_temporal_returns_none():
    assert parse_ts_literal("click") is None
    assert parse_ts_literal("") is None


def test_datetime_to_us_exact_microseconds():
    dt = datetime(2024, 1, 1, 0, 9, 58, 778549, tzinfo=timezone.utc)
    assert datetime_to_us(dt) == 1_704_067_798_778_549


@settings(max_examples=200, deadline=None)
@given(
    sec=st.integers(min_value=0, max_value=4_102_444_800),  # 1970..2100
    gran=st.sampled_from(GRANULARITIES),
)
def test_bucket_start_matches_duckdb(sec, gran):
    got = bucket_start_sec(sec, gran)
    (want_dt,) = (
        duckdb.sql(
            f"select cast(date_trunc('{gran}', to_timestamp({sec})) as timestamp)"
        ).fetchone()
    )
    want = int(want_dt.replace(tzinfo=timezone.utc).timestamp())
    assert got == want, (sec, gran)
    # vectorized form agrees
    assert bucket_starts(np.array([sec], dtype=np.int64), gran)[0] == got


def test_week_is_monday_aligned():
    # 2024-05-10 is a Friday; its week starts Monday 2024-05-06.
    sec = 1_715_299_205
    start = bucket_start_sec(sec, "week")
    assert sec_to_datetime(start) == datetime(2024, 5, 6)


def test_sec_to_datetime_is_naive_utc():
    dt = sec_to_datetime(1_715_299_200)
    assert dt == datetime(2024, 5, 10) and dt.tzinfo is None


@given(st.lists(st.integers(min_value=-2_000_000_000, max_value=4_000_000_000)))
def test_secs_to_datetimes_matches_scalar(secs):
    got = secs_to_datetimes(np.array(secs, dtype=np.int64))
    assert got == [sec_to_datetime(s) for s in secs]
    assert all(type(d) is datetime and d.tzinfo is None for d in got)
