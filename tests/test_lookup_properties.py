"""Property-based tests for the driver-side WheelIndex lookup math.

Pure numpy (no Spark): randomized event sets are rolled up exactly as the
distributed build would (per-bucket count/sum/min/max/sumsq), then every
range / group-by / merge result is checked against a brute-force recompute
over the raw events. This is the correctness core of the engine — the routed
answers are only as good as these reductions.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_uwheel_spark.functions.timestamps import GRANULARITY_SECONDS
from datafusion_uwheel_spark.operators.lookup import (
    INT_MAX_IDENTITY,
    INT_MIN_IDENTITY,
    WheelIndex,
)

BASE = 1_700_000_000  # arbitrary epoch anchor


def build_wheel(
    events: list[tuple[int, float | None]],
    bucket_seconds: int = 1,
    integral: bool = False,
) -> WheelIndex:
    """Exact analogue of the distributed rollup, in plain Python: per
    bucket COUNT(*), the non-NULL count and the sanitized value states
    (all-NULL buckets hold the monoid identities, never NaN)."""
    buckets: dict[int, list] = {}
    for s, v in events:
        buckets.setdefault(s - s % bucket_seconds, []).append(v)
    secs = sorted(buckets)
    vdtype = np.int64 if integral else np.float64
    lo, hi = (INT_MIN_IDENTITY, INT_MAX_IDENTITY) if integral else (np.inf, -np.inf)
    cnt, vcnt, sums, mins, maxs, sqs = [], [], [], [], [], []
    for b in secs:
        nn = [v for v in buckets[b] if v is not None]
        cnt.append(len(buckets[b]))
        vcnt.append(len(nn))
        sums.append(sum(nn) if nn else 0)
        mins.append(min(nn) if nn else lo)
        maxs.append(max(nn) if nn else hi)
        sqs.append(math.fsum(float(v) * float(v) for v in nn))
    return WheelIndex(
        "t",
        "v",
        "*_AGG",
        np.array(secs, dtype=np.int64),
        np.array(cnt, dtype=np.int64),
        sum_=np.array(sums, dtype=vdtype),
        min_=np.array(mins, dtype=vdtype),
        max_=np.array(maxs, dtype=vdtype),
        sumsq_=np.array(sqs, dtype=np.float64),
        vcnt_=np.array(vcnt, dtype=np.int64),
        value_sql_type="BIGINT" if integral else "DOUBLE",
        min_ts_us=int(min(s for s, _ in events)) * 1_000_000,
        max_ts_us=int(max(s for s, _ in events)) * 1_000_000,
        complete=True,
        bucket_seconds=bucket_seconds,
    )


#: Every state key a value wheel with all states answers.
ALL_STATES = (
    "count", "count_col", "sum", "avg", "min", "max", "_sumsq",
    "var_pop", "var_samp", "stddev_pop", "stddev_samp",
)


def expect_states(vals: list, integral: bool) -> dict:
    """Brute-force SQL states of one group of raw values (None = NULL)."""
    nn = [v for v in vals if v is not None]
    out = {"count": len(vals), "count_col": len(nn)}
    if not nn:
        out.update({k: None for k in ALL_STATES[2:]})
        out["_sumsq"] = 0.0
        return out
    n = len(nn)
    total = sum(nn) if integral else math.fsum(nn)
    mean = math.fsum(nn) / n
    m2 = math.fsum((x - mean) ** 2 for x in nn)
    out.update(
        sum=total,
        avg=math.fsum(nn) / n,
        min=min(nn),
        max=max(nn),
        _sumsq=math.fsum(float(x) * float(x) for x in nn),
        var_pop=m2 / n,
        stddev_pop=math.sqrt(m2 / n),
        var_samp=m2 / (n - 1) if n >= 2 else None,
        stddev_samp=math.sqrt(m2 / (n - 1)) if n >= 2 else None,
    )
    return out


def assert_states(got: dict, want: dict, keys, integral: bool) -> None:
    """Values within float tolerance (ints exact) and the Python types the
    delegate's result schema implies: COUNTs int, SUM/MIN/MAX int on an
    integral wheel else float, AVG/sumsq/variance float, NULL as None."""
    assert set(got) == set(keys), (set(got), keys)
    for k in keys:
        g, w = got[k], want[k]
        if w is None:
            assert g is None, (k, g)
            continue
        if k in ("count", "count_col") or (integral and k in ("sum", "min", "max")):
            assert type(g) is int and g == w, (k, g, w)
        else:
            assert type(g) is float, (k, type(g))
            if k in ("min", "max"):
                assert g == w, (k, g, w)
            elif k in ("var_pop", "var_samp", "stddev_pop", "stddev_samp", "_sumsq"):
                assert math.isclose(g, w, rel_tol=1e-6, abs_tol=1e-3), (k, g, w)
            else:
                assert math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-6), (k, g, w)


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=BASE, max_value=BASE + 7200),
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=300,
)

#: Rows with NULLs, over a week, either float or integral values — the
#: integral draw keeps squares exact in float64.
nullable_events = st.booleans().flatmap(
    lambda integral: st.tuples(
        st.just(integral),
        st.lists(
            st.tuples(
                st.integers(min_value=BASE, max_value=BASE + 7 * 86400),
                st.one_of(
                    st.none(),
                    st.integers(min_value=-10**6, max_value=10**6)
                    if integral
                    else st.floats(-1e6, 1e6, allow_nan=False, width=32),
                ),
            ),
            min_size=1,
            max_size=300,
        ),
    )
)

#: A requested-state subset, or ``None`` (every carried state).
state_requests = st.one_of(
    st.none(), st.sets(st.sampled_from(ALL_STATES), min_size=1)
)


@given(
    data=nullable_events,
    a=st.integers(min_value=-100, max_value=7 * 86400 + 100),
    width=st.integers(min_value=0, max_value=7 * 86400),
    states=state_requests,
)
@settings(max_examples=200, deadline=None)
def test_combine_range_matches_bruteforce(data, a, width, states):
    integral, events = data
    w = build_wheel(events, integral=integral)
    start, end = BASE + a, BASE + a + width
    got = w.combine_range(start, end, states)
    assert got is not None  # complete wheel answers any valid range
    want = expect_states([v for s, v in events if start <= s < end], integral)
    assert_states(got, want, ALL_STATES if states is None else states, integral)


def _check_group_by(w, events, integral, start, end, gran, states, bucket_of):
    got = w.group_by(start, end, gran, states)
    assert got is not None
    secs, cols = got
    assert secs.dtype == np.int64
    expect: dict[int, list] = {}
    for s, v in events:
        if start <= s < end:
            expect.setdefault(bucket_of(s), []).append(v)
    assert secs.tolist() == sorted(expect)
    keys = ALL_STATES if states is None else states
    assert set(cols) == set(keys)
    for i, b in enumerate(secs.tolist()):
        assert_states(
            {k: cols[k][i] for k in cols}, expect_states(expect[b], integral), keys,
            integral,
        )


@given(
    data=nullable_events,
    gran=st.sampled_from(["second", "minute", "hour", "day", "week"]),
    states=state_requests,
)
@settings(max_examples=100, deadline=None)
def test_group_by_matches_bruteforce(data, gran, states):
    from datafusion_uwheel_spark.functions.timestamps import bucket_starts

    integral, events = data
    w = build_wheel(events, integral=integral)
    gs = GRANULARITY_SECONDS[gran]
    start = BASE - BASE % gs - gs
    end = BASE + 8 * 86400 - (BASE + 8 * 86400) % gs + gs
    _check_group_by(
        w, events, integral, start, end, gran, states,
        lambda s: int(bucket_starts(np.array([s], dtype=np.int64), gran)[0]),
    )


@given(
    data=nullable_events,
    gran=st.sampled_from(["month", "quarter", "year", 60, 900, 7200, 86400, 3 * 86400]),
    states=state_requests,
)
@settings(max_examples=100, deadline=None)
def test_group_by_calendar_and_window_widths(data, gran, states):
    """Calendar granularities and int tumbling widths, sliced mid-week."""
    from datafusion_uwheel_spark.functions.timestamps import bucket_starts

    integral, events = data
    w = build_wheel(events, integral=integral)
    start, end = BASE - BASE % 60 + 3600, BASE + 5 * 86400
    _check_group_by(
        w, events, integral, start, end, gran, states,
        lambda s: int(bucket_starts(np.array([s], dtype=np.int64), gran)[0]),
    )


@given(
    data=nullable_events,
    states=state_requests,
    cut_hours=st.integers(min_value=0, max_value=7 * 24),
)
@settings(max_examples=100, deadline=None)
def test_tiered_wheel_matches_bruteforce(data, states, cut_hours):
    """A compacted wheel (hour tier behind the cutoff, seconds after) —
    range states and hour group-bys stay exact over its coarse prefix."""
    integral, events = data
    w = build_wheel(events, integral=integral)
    base_hour = BASE - BASE % 3600
    w.compact_before(base_hour + cut_hours * 3600, 3600)
    start, end = base_hour, base_hour + 8 * 86400
    got = w.combine_range(start, end, states)
    want = expect_states([v for s, v in events if start <= s < end], integral)
    assert_states(got, want, ALL_STATES if states is None else states, integral)
    _check_group_by(
        w, events, integral, start, end, "hour", states, lambda s: s - s % 3600
    )
    # a second-precision bound inside the hour tier would split a bucket
    if cut_hours:
        assert w.combine_range(start + 1, end, states) is None
        assert w.group_by(start, end, "second", states) is None


def test_all_null_buckets_answer_null_states():
    """Buckets whose every value is NULL count their rows, answer NULL for
    the value states and a zero raw sum-of-squares."""
    events = [(BASE, None), (BASE, None), (BASE + 60, 2.0), (BASE + 61, None)]
    for integral in (False, True):
        w = build_wheel(events, integral=integral)
        secs, cols = w.group_by(BASE - BASE % 60, BASE + 3600, "minute")
        first = {k: cols[k][0] for k in cols}
        assert first["count"] == 2 and first["count_col"] == 0
        assert first["_sumsq"] == 0.0
        assert all(first[k] is None for k in ALL_STATES if k not in ("count", "count_col", "_sumsq"))
        got = w.combine_range(BASE, BASE + 1, ("sum", "avg", "var_pop", "count"))
        assert got == {"sum": None, "avg": None, "var_pop": None, "count": 2}


def test_lookups_answer_only_requested_and_carried_states():
    """Requested keys a wheel does not carry are absent (the router
    delegates on them); empty ranges still name every carried key."""
    w = build_wheel([(BASE, 1.0), (BASE + 5, 3.0)])
    w.sumsq_ = None  # a per-aggregate build without sum-of-squares
    assert w.combine_range(BASE, BASE + 10, ("sum", "var_pop")) == {"sum": 4.0}
    secs, cols = w.group_by(BASE, BASE + 10, "second", ("min", "stddev_samp"))
    assert secs.tolist() == [BASE, BASE + 5] and cols == {"min": [1.0, 3.0]}
    secs, cols = w.group_by(BASE + 100, BASE + 200, "second", ("max", "_sumsq"))
    assert secs.size == 0 and cols == {"max": []}
    assert w.combine_range(BASE, BASE + 10, ()) == {}


@given(
    first=events_strategy,
    second=events_strategy,
)
@settings(max_examples=100, deadline=None)
def test_merge_equals_fresh_build(first, second):
    w = build_wheel(first)
    delta = build_wheel(second)
    w.merge_delta(
        delta.secs, delta.cnt, delta.sum_, delta.min_, delta.max_, delta.sumsq_,
        min_ts_us=delta.min_ts_us, max_ts_us=delta.max_ts_us,
    )
    fresh = build_wheel(first + second)
    assert np.array_equal(w.secs, fresh.secs)
    assert np.array_equal(w.cnt, fresh.cnt)
    assert np.allclose(w.sum_, fresh.sum_)
    assert np.array_equal(w.min_, fresh.min_)
    assert np.array_equal(w.max_, fresh.max_)
    assert np.allclose(w.sumsq_, fresh.sumsq_)
    assert w.min_ts_us == fresh.min_ts_us and w.max_ts_us == fresh.max_ts_us


@given(
    secs=st.lists(
        st.integers(min_value=0, max_value=2_500_000_000), min_size=1, max_size=50
    ),
    gran=st.sampled_from(["month", "quarter", "year"]),
)
@settings(max_examples=200, deadline=None)
def test_calendar_buckets_match_python_datetime(secs, gran):
    from datetime import datetime, timezone

    from datafusion_uwheel_spark.functions.timestamps import bucket_starts

    got = bucket_starts(np.array(secs, dtype=np.int64), gran)
    for s, b in zip(secs, got):
        dt = datetime.fromtimestamp(s, tz=timezone.utc)
        if gran == "month":
            want = dt.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
        elif gran == "quarter":
            want = dt.replace(
                month=(dt.month - 1) // 3 * 3 + 1,
                day=1, hour=0, minute=0, second=0, microsecond=0,
            )
        else:
            want = dt.replace(
                month=1, day=1, hour=0, minute=0, second=0, microsecond=0
            )
        assert int(b) == int(want.timestamp()), (s, gran)


@given(
    events=events_strategy,
    bucket=st.sampled_from([1, 60, 3600]),
    a=st.integers(min_value=-2, max_value=122),
    width=st.integers(min_value=0, max_value=124),
)
@settings(max_examples=100, deadline=None)
def test_coarse_buckets_answer_aligned_ranges(events, bucket, a, width):
    w = build_wheel(events, bucket_seconds=bucket)
    start = (BASE // bucket + a) * bucket
    end = start + width * bucket
    got = w.combine_range(start, end)
    assert got is not None
    in_range = [v for s, v in events if start <= (s - s % bucket) < end]
    assert got["count"] == len(in_range)
    # unaligned boundaries must be refused, never mis-answered
    if bucket > 1:
        assert w.combine_range(start + 1, end) is None
        assert w.count_range(start, end + 1) is None
