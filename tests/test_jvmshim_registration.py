"""Python-side shim registration: view shape, confs, and the soundness
guards (complete wheels only, full state sets, shared bucket domain).
Runs in the shared session — registration needs no injected rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_uwheel_spark import WheelEngine
from datafusion_uwheel_spark.jvmshim import (
    register_agg_rollup,
    register_count_rollup,
)
from datafusion_uwheel_spark.sources import read_parquet


@pytest.fixture()
def ev_copy(spark, sf_small_dir, tmp_path):
    """A per-test parquet root: the shim allows ONE engine per root, and
    the shared session's confs persist across tests."""
    p = str(tmp_path / "events.parquet")
    read_parquet(spark, f"{sf_small_dir}/events.parquet").write.parquet(p)
    return p


@pytest.fixture()
def eng(spark, ev_copy):
    return WheelEngine(spark, "shimreg", ev_copy, time_column="ts")


def test_count_rollup_view_and_confs(spark, eng):
    name = register_count_rollup(spark, eng)
    assert name == "__uwheel_rollup_shimreg"
    total = spark.table(name).agg(F.sum("cnt")).collect()[0][0]
    assert total == eng.df.count()
    assert "shimreg" in spark.conf.get("spark.uwheel.shim.tables")
    assert spark.conf.get("spark.uwheel.shim.shimreg.time_col") == "ts"
    assert spark.conf.get("spark.uwheel.shim.shimreg.bucket_sec") == "1"


def test_agg_rollup_combined_view_accumulates_columns(spark, eng):
    eng.build_index("value")
    name = register_agg_rollup(spark, eng, "value")
    assert name == "__uwheel_rollup_shimreg__agg"
    cols = set(spark.table(name).columns)
    assert {
        "sec", "cnt", "vcnt_value", "sum_value", "min_value", "max_value",
        "sumsq_value",  # serves STDDEV/VARIANCE through the rule
    } <= cols
    eng.build_index("user_id")
    register_agg_rollup(spark, eng, "user_id")
    cols = set(spark.table(name).columns)
    assert {"sum_value", "sum_user_id", "min_user_id"} <= cols
    assert spark.conf.get("spark.uwheel.shim.shimreg.agg_cols") == "user_id,value"
    # BIGINT column exports BIGINT min/max and BIGINT sums (exact int64)
    dt = dict(spark.table(name).dtypes)
    assert dt["min_user_id"] == "bigint" and dt["sum_user_id"] == "bigint"
    assert dt["min_value"] == "double"
    # per-bucket sums reproduce the table totals
    got = spark.table(name).agg(
        F.sum("sum_value").alias("sv"), F.sum("sum_user_id").alias("su")
    ).collect()[0]
    want = eng.df.agg(
        F.sum("value").alias("sv"), F.sum("user_id").alias("su")
    ).collect()[0]
    assert abs(got["sv"] - want["sv"]) < 1e-6 and got["su"] == want["su"]


def test_agg_rollup_requires_built_wheel(spark, eng):
    with pytest.raises(KeyError, match="build_index"):
        register_agg_rollup(spark, eng, "value")


def test_agg_rollup_rejects_state_subset(spark, eng):
    eng.build_index("value", aggs=("sum",))
    with pytest.raises(ValueError, match="state subset"):
        register_agg_rollup(spark, eng, "value")


def test_registration_rejects_incomplete_wheel(spark, sf_small_dir):
    e = WheelEngine(
        spark,
        "shimreg_tr",
        f"{sf_small_dir}/events.parquet",
        time_column="ts",
        time_range=("2024-01-03 00:00:00", "2024-01-10 00:00:00"),
    )
    with pytest.raises(ValueError, match="complete"):
        register_count_rollup(spark, e)


def test_keyed_registration_view_and_guards(spark, eng):
    from datafusion_uwheel_spark.jvmshim import register_keyed_agg_rollup

    with pytest.raises(ValueError, match="string"):
        register_keyed_agg_rollup(spark, eng, "value", "user_id = 42")
    with pytest.raises(KeyError, match="build_index"):
        register_keyed_agg_rollup(spark, eng, "value", "event_type = 'click'")
    eng.build_index("value", filter="event_type = 'click'")
    name = register_keyed_agg_rollup(spark, eng, "value", "event_type = 'click'")
    assert name == "__uwheel_rollup_shimreg__key0"
    assert spark.conf.get("spark.uwheel.shim.shimreg.keyed_count") == "1"
    assert spark.conf.get("spark.uwheel.shim.shimreg.keyed.0.col") == "event_type"
    assert spark.conf.get("spark.uwheel.shim.shimreg.keyed.0.value") == "click"
    # the keyed view's totals equal the filtered table's
    got = spark.table(name).agg(
        F.sum("cnt").alias("c"), F.sum("sum_value").alias("s")
    ).collect()[0]
    want = eng.df.filter("event_type = 'click'").agg(
        F.count(F.lit(1)).alias("c"), F.sum("value").alias("s")
    ).collect()[0]
    assert got["c"] == want["c"] and abs(got["s"] - want["s"]) < 1e-6


def test_unmaintained_keyed_view_is_revoked_on_merge(spark, ev_copy):
    """A streaming merge that cannot re-apply a keyed filter marks the
    keyed wheel incomplete; the refresh must then UNSET that view's confs
    so the rule stops matching — stale never answers."""
    from datafusion_uwheel_spark.jvmshim import (
        register_agg_rollup,
        register_keyed_agg_rollup,
    )
    from datafusion_uwheel_spark.sources import read_parquet
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer,
    )

    batch = spark.createDataFrame(
        [("2024-03-01 00:00:10", "click", 1.0)],
        "ts string, event_type string, value double",
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "event_type", "value")
    e = WheelEngine(spark, "shimrev", ev_copy, time_column="ts")
    e.build_index("value")
    e.build_index("value", filter="event_type = 'click'")
    register_count_rollup(spark, e)
    register_agg_rollup(spark, e, "value")
    register_keyed_agg_rollup(spark, e, "value", "event_type = 'click'")
    pre = "spark.uwheel.shim.shimrev.keyed.0"
    assert spark.conf.get(f"{pre}.col") == "event_type"
    # maintainer WITHOUT the keyed filter registered → keyed wheel stale
    StreamingWheelMaintainer(e).merge_batch(batch)
    assert spark.conf.get(f"{pre}.col", None) is None
    # the unfiltered views refreshed instead of being revoked
    assert "shimrev" in spark.conf.get("spark.uwheel.shim.tables")
    # maintainer WITH the filter keeps the keyed view registered
    p2 = ev_copy.replace("events.parquet", "events2.parquet")
    read_parquet(spark, ev_copy).write.parquet(p2)
    e2 = WheelEngine(spark, "shimrev2", p2, time_column="ts")
    e2.build_index("value")
    e2.build_index("value", filter="event_type = 'click'")
    register_keyed_agg_rollup(spark, e2, "value", "event_type = 'click'")
    StreamingWheelMaintainer(
        e2, filters={"event_type = 'click'": "event_type = 'click'"}
    ).merge_batch(batch)
    assert (
        spark.conf.get("spark.uwheel.shim.shimrev2.keyed.0.col") == "event_type"
    )


def test_dim_view_refreshed_or_revoked_on_merge(spark, ev_copy):
    """Partitioned families are maintained per batch, so their dim views
    re-export on merge; an unmaintained (incomplete) family's view is
    revoked instead."""
    from datafusion_uwheel_spark.jvmshim import register_dim_rollup
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer,
    )

    batch = spark.createDataFrame(
        [("2024-03-01 00:00:10", "click", 1.0)],
        "ts string, event_type string, value double",
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "event_type", "value")
    e = WheelEngine(spark, "shimdim", ev_copy, time_column="ts")
    e.build_index("value")
    e.build_partitioned_index("value", partition_by="event_type")
    register_count_rollup(spark, e)
    name = register_dim_rollup(spark, e, "event_type")
    assert spark.conf.get("spark.uwheel.shim.shimdim.dim.0.col") == "event_type"
    before = spark.table(name).count()
    StreamingWheelMaintainer(e).merge_batch(batch)  # maintains the family
    assert spark.conf.get("spark.uwheel.shim.shimdim.dim.0.col") == "event_type"
    assert spark.table(name).count() == before + 1  # new (bucket, click) row
    # unmaintained family → incomplete → the view confs go away
    StreamingWheelMaintainer(e, maintain_partitions=False).merge_batch(batch)
    assert spark.conf.get("spark.uwheel.shim.shimdim.dim.0.col", None) is None


def test_unregister_table(spark, eng):
    from datafusion_uwheel_spark.jvmshim import unregister_table

    register_count_rollup(spark, eng)
    assert "shimreg" in spark.conf.get("spark.uwheel.shim.tables")
    assert unregister_table(spark, "shimreg") is True
    assert "shimreg" not in spark.conf.get("spark.uwheel.shim.tables")
    assert unregister_table(spark, "shimreg") is False
    # re-registration reclaims the root (no same-root collision with self)
    register_count_rollup(spark, eng)
    assert "shimreg" in spark.conf.get("spark.uwheel.shim.tables")


def test_registration_requires_source_path(spark, sf_small_dir):
    df = read_parquet(spark, f"{sf_small_dir}/events.parquet")
    e = WheelEngine(spark, "shimreg_df", df, time_column="ts")
    with pytest.raises(ValueError, match="source_path"):
        register_count_rollup(spark, e)


def test_views_go_parquet_backed_past_threshold(spark, eng, tmp_path):
    """Above max_local_rows the view must be file-backed (no LocalRelation
    embedded in rewritten plans — the 100x-scale driver-memory hazard),
    with identical content, and streaming-refresh versioning must not
    accumulate files."""
    eng.build_index("value")
    # threshold far below the wheel's occupied buckets -> parquet backing
    name = register_agg_rollup(
        spark, eng, "value", storage_dir=str(tmp_path / "views"),
        max_local_rows=16,
    )
    plan = spark.table(name)._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" not in plan and "parquet" in plan.lower()
    total = spark.table(name).agg(F.sum("cnt")).collect()[0][0]
    assert total == eng.df.filter(F.col("ts").isNotNull()).count()
    # re-register (the streaming-refresh path): the previous version
    # survives exactly one cycle (in-flight scans of the prior view finish),
    # then is retired by the NEXT export — files never accumulate past two
    import glob as _glob
    import os as _os

    def _versions():
        return sorted(
            _os.path.basename(p)
            for p in _glob.glob(str(tmp_path / "views" / name / "v*.parquet"))
        )

    register_agg_rollup(spark, eng, "value")
    assert _versions() == ["v1.parquet", "v2.parquet"]
    total2 = spark.table(name).agg(F.sum("cnt")).collect()[0][0]
    assert total2 == total
    register_agg_rollup(spark, eng, "value")
    assert _versions() == ["v2.parquet", "v3.parquet"]


def test_small_views_stay_local(spark, eng):
    """Below the threshold the view stays a LocalRelation — zero-I/O
    rewritten plans for small wheels."""
    eng.build_index("value")
    name = register_agg_rollup(spark, eng, "value")
    plan = spark.table(name)._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan


def test_dim_and_count_views_respect_backing(spark, eng, tmp_path):
    eng.build_partitioned_index("value", partition_by="event_type")
    from datafusion_uwheel_spark.jvmshim import register_dim_rollup

    dname = register_dim_rollup(
        spark, eng, "event_type", storage_dir=str(tmp_path / "v2"),
        max_local_rows=0,
    )
    dplan = spark.table(dname)._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" not in dplan
    # engine-pinned prefs carry to later registrations (streaming refresh
    # re-exports with no kwargs)
    cname = register_count_rollup(spark, eng)
    cplan = spark.table(cname)._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" not in cplan
    # dim view content: per-key counts match the scan
    got = {
        r["key"]: r["n"]
        for r in spark.table(dname).groupBy("key").agg(F.sum("cnt").alias("n")).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in eng.df.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_reexport_is_atomic_under_concurrent_readers(spark, eng, tmp_path):
    """Streaming re-export under a live query loop: the view is re-pointed
    to the new version BEFORE any deletion, and the prior version survives
    one extra cycle, so a reader that resolved the previous view never hits
    FileNotFoundException mid-swap (ADVICE r5, jvmshim.py:110)."""
    import threading
    import time

    eng.build_index("value")
    name = register_agg_rollup(
        spark, eng, "value", storage_dir=str(tmp_path / "cv"), max_local_rows=0
    )
    expect = spark.table(name).agg(F.sum("cnt")).collect()[0][0]
    errors: list = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                got = spark.table(name).agg(F.sum("cnt")).collect()[0][0]
            except Exception as exc:  # mid-swap dangle → fail loudly
                errors.append(repr(exc))
                return
            if got != expect:
                errors.append(f"total drifted: {got} != {expect}")
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(6):
            register_agg_rollup(spark, eng, "value")
            time.sleep(0.4)
    finally:
        stop.set()
        t.join()
    assert not errors, errors[:3]


def test_missing_time_column_batch_unregisters_table(spark, ev_copy):
    """ADVICE r8: a batch WITHOUT the time column stale-marks the whole
    engine — the early return must still run the shim refresh, which
    unregisters the table (star wheel incomplete), so plain spark.sql
    stops answering from pre-batch snapshots. Stale never answers."""
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer,
    )

    e = WheelEngine(spark, "shimnotc", ev_copy, time_column="ts")
    e.build_index("value")
    register_count_rollup(spark, e)
    register_agg_rollup(spark, e, "value")
    assert "shimnotc" in spark.conf.get("spark.uwheel.shim.tables")
    batch = spark.createDataFrame([("click", 1.0)], "event_type string, value double")
    StreamingWheelMaintainer(e).merge_batch(batch)  # must not raise
    assert "shimnotc" not in spark.conf.get("spark.uwheel.shim.tables")


def test_stale_value_column_agg_view_revoked_on_merge(spark, ev_copy):
    """ADVICE r8: a stream that lacks ONE registered value column must (a)
    not raise register_agg_rollup's bucket-domain guard mid-stream (the
    maintained column's __sec domain grows, the unmaintained one's
    doesn't), and (b) drop the stale column from agg_cols so the rule
    stops matching it, while the maintained column keeps re-exporting."""
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer,
    )

    e = WheelEngine(spark, "shimstalecol", ev_copy, time_column="ts")
    e.build_index("value")
    e.build_index("user_id")
    register_count_rollup(spark, e)
    register_agg_rollup(spark, e, "value")
    register_agg_rollup(spark, e, "user_id")
    conf_key = "spark.uwheel.shim.shimstalecol.agg_cols"
    assert spark.conf.get(conf_key) == "user_id,value"
    name = "__uwheel_rollup_shimstalecol__agg"
    before = spark.table(name).count()
    # a NEW bucket, carrying value but not user_id
    batch = spark.createDataFrame(
        [("2024-03-01 00:00:10", 2.5)], "ts string, value double"
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "value")
    StreamingWheelMaintainer(e).merge_batch(batch)  # must not raise
    assert spark.conf.get(conf_key) == "value"
    assert "shimstalecol" in spark.conf.get("spark.uwheel.shim.tables")
    # the re-exported view carries the merged bucket (fresh, not snapshot)
    assert spark.table(name).count() == before + 1
    assert "sum_value" in spark.table(name).columns


def test_all_value_columns_stale_clears_agg_conf(spark, ev_copy):
    """Degenerate case of the above: EVERY registered agg column is
    unmaintainable → agg_cols must go away entirely (no register call
    would otherwise rewrite it), while COUNT(*) stays served."""
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer,
    )

    e = WheelEngine(spark, "shimallstale", ev_copy, time_column="ts")
    e.build_index("user_id")
    register_count_rollup(spark, e)
    register_agg_rollup(spark, e, "user_id")
    conf_key = "spark.uwheel.shim.shimallstale.agg_cols"
    assert spark.conf.get(conf_key) == "user_id"
    batch = spark.createDataFrame(
        [("2024-03-01 00:00:10", 2.5)], "ts string, value double"
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "value")
    StreamingWheelMaintainer(e).merge_batch(batch)
    assert spark.conf.get(conf_key, None) is None
    assert "shimallstale" in spark.conf.get("spark.uwheel.shim.tables")


def test_file_backed_views_read_with_the_written_schema(spark, tmp_path):
    """File-backed views are read with the schema of the Arrow table just
    written (no footer-inference job). It must equal what Spark infers
    from the file for the count, agg and dim views — integral states and
    keys, NULL-masked states, ``sumsq_*`` — and aggregates over the views
    must equal the delegate's (the rule's own parity over parquet views is
    ``test_jvm_shim.py::test_shim_fuzz_equivalence_parquet_views``)."""
    import math
    from datetime import datetime, timedelta

    from datafusion_uwheel_spark.jvmshim import register_dim_rollup

    t0 = datetime(2024, 1, 1)
    rows = [
        (
            t0 + timedelta(seconds=i),
            i % 3,
            None if i % 4 == 0 or 10 <= i < 20 else i * 1000,
            None if i % 5 == 0 else i * 0.5,
        )
        for i in range(40)
    ]
    src = str(tmp_path / "typed.parquet")
    spark.createDataFrame(
        rows, "ts timestamp, k int, v bigint, w double"
    ).coalesce(1).write.parquet(src)
    eng = WheelEngine(spark, "shimschema", src, time_column="ts")
    eng.build_index("v")
    eng.build_index("w")
    eng.build_partitioned_index(("v", "w"), partition_by="k")
    store = str(tmp_path / "views")
    names = [
        register_count_rollup(spark, eng, storage_dir=store, max_local_rows=0),
        register_agg_rollup(spark, eng, "v"),
        register_agg_rollup(spark, eng, "w"),
        register_dim_rollup(spark, eng, "k"),
    ]
    for name in names:
        v = eng._shim_view_versions[name]
        inferred = spark.read.parquet(f"{store}/{name}/v{v}.parquet").schema
        view = spark.table(name)
        assert view.schema == inferred, name
        assert "LocalRelation" not in view._jdf.queryExecution().analyzed().toString()
    agg = spark.table(names[2]).schema
    assert {"sumsq_v", "sumsq_w"} <= set(agg.names)
    assert spark.table(names[3]).schema["key"].dataType.simpleString() == "int"
    assert agg["sum_v"].dataType.simpleString() == "bigint"

    def close(a, b):
        if a is None or b is None:
            return a is b
        return a == b if isinstance(a, int) else math.isclose(a, b, rel_tol=1e-12)

    for a, b in ((0, 40), (10, 20), (3, 33)):
        lo, hi = (int((t0 + timedelta(seconds=s)).timestamp()) for s in (a, b))
        got = spark.sql(
            f"SELECT SUM(cnt), SUM(vcnt_v), SUM(sum_v), MIN(min_v), MAX(max_v), "
            f"SUM(sum_w), MIN(min_w), MAX(max_w), SUM(sumsq_w) FROM {names[2]} "
            f"WHERE sec >= {lo} AND sec < {hi}"
        ).collect()[0]
        want = spark.sql(
            "SELECT COUNT(*), COUNT(v), SUM(v), MIN(v), MAX(v), SUM(w), MIN(w), "
            f"MAX(w), SUM(w * w) FROM shimschema WHERE ts >= timestamp_seconds({lo}) "
            f"AND ts < timestamp_seconds({hi})"
        ).collect()[0]
        assert all(close(x, y) for x, y in zip(got, want)), (a, b, got, want)
    got = sorted(spark.sql(
        f"SELECT key, SUM(cnt), SUM(sum_v), MAX(max_w) FROM {names[3]} GROUP BY key"
    ).collect())
    want = sorted(spark.sql(
        "SELECT k, COUNT(*), SUM(v), MAX(w) FROM shimschema GROUP BY k"
    ).collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
