"""r14: routed constant answers build through the shim's
``UwheelLocalRelation`` (ONE py4j call, zero jobs at any row count)
instead of a ``VALUES`` parse (≤32 rows) or an Arrow ``createDataFrame``
(beyond). Parity contract: schema (names, types, AND the VALUES fold's
nullability — float/double literals were string CASTs there, hence always
nullable), values, and the zero-job collect property."""

from __future__ import annotations

import datetime as dt

import pytest

from datafusion_uwheel_spark.plans import router as R

CASES = [
    (["n"], ["BIGINT"], [(5,)]),
    (["n", "s"], ["BIGINT", "DOUBLE"], [(5, 1.5), (7, None)]),
    (["a", "b", "c", "d"], ["INT", "SMALLINT", "TINYINT", "FLOAT"], [(1, 2, 3, 4.5)]),
    (
        ["t", "k"],
        ["TIMESTAMP", "STRING"],
        [
            (dt.datetime(2024, 1, 5, 0, 0, 0), "x'y"),
            (dt.datetime(2024, 1, 6, 12, 30, 0), None),
        ],
    ),
    (["v"], ["DOUBLE"], [(float("nan"),), (float("inf"),), (float("-inf"),)]),
    (["n"], ["BIGINT"], []),  # the WHERE FALSE shape
]


def _values_reference(spark, names, types, rows):
    cols = ", ".join(f"`{n}`" for n in names)
    if rows:
        tuples = ", ".join(
            "(" + ", ".join(R._sql_literal(v, t) for v, t in zip(row, types)) + ")"
            for row in rows
        )
        return spark.sql(f"SELECT * FROM VALUES {tuples} AS __uwheel({cols})")
    nulls = "(" + ", ".join(R._sql_literal(None, t) for t in types) + ")"
    return spark.sql(
        f"SELECT * FROM VALUES {nulls} AS __uwheel({cols}) WHERE FALSE"
    )


@pytest.mark.parametrize("names,types,rows", CASES)
def test_fastpath_matches_values_fold(spark, names, types, rows):
    fast = R._shim_constant_df(spark, names, types, rows)
    if fast is None:
        pytest.skip("shim jar not on this session")
    ref = _values_reference(spark, names, types, rows)
    assert fast.schema == ref.schema
    assert repr(fast.collect()) == repr(ref.collect())


def test_fastpath_zero_jobs_beyond_values_cap(spark):
    rows = [(i, i * 0.5 if i % 7 else None) for i in range(200)]
    fast = R._shim_constant_df(spark, ["n", "m"], ["BIGINT", "DOUBLE"], rows)
    if fast is None:
        pytest.skip("shim jar not on this session")
    assert len(rows) > 32  # beyond the r14-era VALUES/Arrow switch point
    sc = spark.sparkContext
    j0 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    got = fast.collect()
    assert len(sc.statusTracker().getJobIdsForGroup(None) or []) == j0
    assert [(r[0], r[1]) for r in got] == rows


def test_routed_answers_identical_with_and_without_fastpath(spark, sf_small_dir):
    from datafusion_uwheel_spark import WheelEngine

    eng = WheelEngine(
        spark, "lrfp_events", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    eng.build_index("value")
    queries = [
        "SELECT COUNT(*) AS n, SUM(value) AS s FROM lrfp_events "
        "WHERE ts >= '2024-01-03 00:00:00' AND ts < '2024-01-05 00:00:00'",
        "SELECT date_trunc('hour', ts) AS b, COUNT(*) AS n FROM lrfp_events "
        "WHERE ts >= '2024-01-03 00:00:00' AND ts < '2024-01-05 00:00:00' "
        "GROUP BY date_trunc('hour', ts)",
    ]
    had = getattr(spark, "_uw_localrel_ok", None)
    try:
        for q in queries:
            eng._route_memo.clear()
            spark._uw_localrel_ok = None  # re-probe: fast path on
            fast = eng.sql(q)
            assert eng.last_route.kind in ("count_range", "single_agg", "multi_agg", "group_by")
            fast_rows, fast_schema = fast.collect(), fast.schema
            eng._route_memo.clear()
            spark._uw_localrel_ok = False  # legacy VALUES/Arrow path
            ref = eng.sql(q)
            assert sorted(map(repr, fast_rows)) == sorted(map(repr, ref.collect()))
            # every shim-less answer is now a VALUES fold (r15: the Arrow
            # branch is retired), whose nullability the fast path mirrors
            # at any row count
            assert fast_schema == ref.schema
    finally:
        spark._uw_localrel_ok = had


def test_mid_session_timezone_change_disables_fastpath(spark):
    """The per-session memo caches the UTC check once; the Scala build's
    own per-call guard (it rides the same py4j call) must refuse when the
    zone is changed MID-session — the caller then falls back to the
    VALUES path, which renders in the live session zone."""
    fast = R._shim_constant_df(spark, ["n"], ["BIGINT"], [(1,)])
    if fast is None:
        pytest.skip("shim jar not on this session")
    assert spark._uw_localrel_ok is True  # memo is warm and positive
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        assert R._shim_constant_df(
            spark, ["t"], ["TIMESTAMP"],
            [(dt.datetime(2024, 1, 5, 0, 0, 0),)],
        ) is None
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    # back on UTC the fast path serves again without re-probing
    again = R._shim_constant_df(spark, ["n"], ["BIGINT"], [(2,)])
    assert again is not None and again.collect()[0][0] == 2
