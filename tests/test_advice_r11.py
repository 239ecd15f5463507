"""Regression tests for the four r10 ADVICE defects (fixed r11).

1. ``session._defaults_conf_value`` must parse Properties-style
   separators — Spark loads spark-defaults.conf via java.util.Properties,
   so ``key=value`` / ``key:value`` / backslash continuations are all
   legal; the whitespace-only parse silently dropped '='-style
   deployments' classpaths (the exact clobber the helper prevents).
2. ``SketchRetention._framed_range`` must read tier widths from the
   mirror BOX (the consistent (frame, tiers) snapshot), not live
   ``self.tiers`` — a direct ask racing compact_before must not apply
   post-compaction widths to the pre-compaction mirror.
3. The shim-probe absent/transient distinction must latch on the JVM's
   own ClassNotFoundException (Class.forName, inspected by java TYPE),
   not a py4j message substring — which live probing showed never fires
   on the bundled py4j (absent classes raise ``TypeError: 'JavaPackage'
   object is not callable``), so shim-less sessions warned forever.
4. ``bench.half_medians`` with a single sample must publish the
   degenerate [m, m] spread, not a fake [0.0, m] lower bound.
"""

from __future__ import annotations

import logging
from datetime import datetime, timedelta

import pytest

from datafusion_uwheel_spark.session import (
    _defaults_conf_value,
    _split_properties_line,
)


# ------------------------------------------------- 1. properties parsing
def test_split_properties_line_forms():
    assert _split_properties_line("k v") == ("k", "v")
    assert _split_properties_line("k=v") == ("k", "v")
    assert _split_properties_line("k:v") == ("k", "v")
    assert _split_properties_line("k = v") == ("k", "v")
    assert _split_properties_line("k : v") == ("k", "v")
    assert _split_properties_line("k\t \tv with spaces") == ("k", "v with spaces")
    # value may itself contain separators — only the FIRST terminates key
    assert _split_properties_line("k=a=b:c d") == ("k", "a=b:c d")
    # backslash escapes the next char into the key
    assert _split_properties_line(r"a\=b=v") == ("a=b", "v")
    assert _split_properties_line(r"a\ b : v") == ("a b", "v")
    # bare key, no value
    assert _split_properties_line("justkey") == ("justkey", "")


@pytest.mark.parametrize(
    "line",
    [
        "spark.driver.extraClassPath /dep/a.jar",
        "spark.driver.extraClassPath=/dep/a.jar",
        "spark.driver.extraClassPath:/dep/a.jar",
        "spark.driver.extraClassPath = /dep/a.jar",
        "spark.driver.extraClassPath\t/dep/a.jar",
    ],
)
def test_defaults_conf_value_separator_forms(tmp_path, monkeypatch, line):
    (tmp_path / "spark-defaults.conf").write_text(
        f"# deployment conf\n!old-style comment\n\n{line}\n"
        "spark.other.key=zzz\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert _defaults_conf_value("spark.driver.extraClassPath") == "/dep/a.jar"
    assert _defaults_conf_value("spark.other.key") == "zzz"
    assert _defaults_conf_value("spark.missing.key") is None


def test_defaults_conf_value_continuations(tmp_path, monkeypatch):
    (tmp_path / "spark-defaults.conf").write_text(
        "spark.driver.extraClassPath=/dep/a.jar:\\\n"
        "    /dep/b.jar:\\\n"
        "    /dep/c.jar\n"
        "spark.after.key value\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert (
        _defaults_conf_value("spark.driver.extraClassPath")
        == "/dep/a.jar:/dep/b.jar:/dep/c.jar"
    )
    # the line AFTER a continuation still parses on its own
    assert _defaults_conf_value("spark.after.key") == "value"


def test_defaults_conf_value_even_trailing_backslashes(tmp_path, monkeypatch):
    # an ESCAPED backslash at end of line does NOT continue (odd count
    # continues, even count does not — the Properties rule)
    (tmp_path / "spark-defaults.conf").write_text(
        "spark.win.path=C:\\\\dir\\\\\\\\\n" "spark.next key2\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert _defaults_conf_value("spark.next") == "key2"


def test_defaults_conf_value_missing_file(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "nope"))
    assert _defaults_conf_value("spark.any") is None


def test_defaults_conf_value_empty_value_is_none(tmp_path, monkeypatch):
    (tmp_path / "spark-defaults.conf").write_text("spark.empty=\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert _defaults_conf_value("spark.empty") is None


# --------------------------------------------- 2. mirror-box tiers snapshot
@pytest.fixture(scope="module")
def hll_events(spark):
    base = datetime(2024, 2, 1)
    rows = [
        (base + timedelta(hours=h, minutes=m), (h * 7 + m) % 31)
        for h in range(6)
        for m in range(0, 60, 5)
    ]
    return spark.createDataFrame(rows, "ts timestamp, uid bigint")


def test_compact_publication_locks_out_mirror_box(spark, hll_events):
    """The (frame, tiers) pair publishes ATOMICALLY: compact_before's
    publication block and _mirror_box's read-check-create hold the same
    lock (r11 review pass 2: ordering tricks cannot make a two-attribute
    pair coherent against a preempted reader). Proven two ways: the
    publication genuinely blocks while an ask holds the lock, and a
    concurrent _mirror_box hammer during a real compaction only ever
    observes the two coherent states."""
    import calendar
    import threading
    import time

    from datafusion_uwheel_spark.operators.distinct import build_distinct_rollup

    r = build_distinct_rollup(hll_events, "ts", "uid", bucket_seconds=3600)
    try:
        a = calendar.timegm(datetime(2024, 2, 1).utctimetuple())
        before = r._framed_range("__hll", a, a + 6 * 3600)
        assert before is not None and before[1] == 6  # six hourly buckets
        old_df = r._df
        cutoff = a + 12 * 3600

        # --- mutual exclusion, HANDSHAKE-based (r11 review pass 3: a
        # fixed-sleep poll passes vacuously on a slow box and swallows
        # worker errors): seed a signalling publish-lock proxy, hold its
        # inner lock, and wait for the worker to REACH the acquire — only
        # then assert the publication hasn't happened.
        class _SignalLock:
            def __init__(self):
                self._l = threading.Lock()
                self.waiting = threading.Event()

            def acquire(self, *a, **k):
                self.waiting.set()
                return self._l.acquire(*a, **k)

            def release(self):
                self._l.release()

            def __enter__(self):
                self.acquire()
                return self

            def __exit__(self, *exc):
                self.release()

        proxy = _SignalLock()
        r.__dict__["_publish_lock_obj"] = proxy
        errors: list = []

        def run_compact():
            try:
                r.compact_before(cutoff, 21600)
            except BaseException as e:  # surfaced below, not just stderr
                errors.append(e)

        proxy._l.acquire()  # ask-side holder (bypasses the signal)
        t = threading.Thread(target=run_compact)
        t.start()
        try:
            assert proxy.waiting.wait(timeout=120), "worker never reached the lock"
            time.sleep(0.05)  # let it actually block on acquire
            assert r._df is old_df and r.tiers == []  # publication excluded
        finally:
            # an assertion failure must not strand the non-daemon worker
            # on the held lock (the test would hang instead of reporting)
            proxy._l.release()
            t.join(timeout=120)
        assert not t.is_alive() and not errors, errors
        # complete new state, box coherent with it
        assert r._df is not old_df and r.tiers == [(cutoff, 21600)]
        box = r._mirror_box()
        assert box["df"] is r._df and box["tiers"] == [(cutoff, 21600)]
        after = r._framed_range("__hll", a, a + 6 * 3600)
        assert after is not None and after[1] == 1  # one 6h coarse bucket

        # --- hammer: during a second real compaction, every box a
        # concurrent reader observes pairs frame and tiers coherently
        mid_df, mid_tiers = r._df, list(r.tiers)
        cutoff2 = a + 86400  # aligned; the post-compaction tiers are known
        violations: list = []
        stop = threading.Event()

        def hammer():
            while not stop.is_set():
                b = r._mirror_box()
                ok = (b["df"] is mid_df and b["tiers"] == mid_tiers) or (
                    b["df"] is not mid_df and b["tiers"] == [(cutoff2, 43200)]
                )
                if not ok:
                    violations.append(b["tiers"])

        h = threading.Thread(target=hammer)
        h.start()
        try:
            r.compact_before(cutoff2, 43200)
        finally:
            stop.set()
            h.join(timeout=30)
        assert not violations, violations
        box2 = r._mirror_box()
        assert box2["df"] is r._df and box2["tiers"] == list(r.tiers)
    finally:
        r.unpersist()


# ------------------------------------------ 3. shim-probe latch semantics
def test_shim_absent_probe_by_java_type(spark):
    from datafusion_uwheel_spark.operators.sketch_retention import SketchRetention

    assert SketchRetention._shim_absent(spark) is False  # jar present
    assert (
        SketchRetention._shim_absent(spark, "io.uwheel.spark.NoSuchClassXyz")
        is True
    )
    # a transiently-broken gateway (attribute chain raises a PYTHON error)
    # must read as not-absent, never latch
    class _Boom:
        def __getattr__(self, name):
            raise RuntimeError("gateway hiccup")

    class _FakeSpark:
        _jvm = _Boom()

    assert SketchRetention._shim_absent(_FakeSpark()) is False


def test_probe_latches_only_on_definitive_absence(
    spark, hll_events, monkeypatch, caplog
):
    from datafusion_uwheel_spark.operators.sketch_retention import SketchRetention
    from datafusion_uwheel_spark.operators.distinct import build_distinct_rollup

    r = build_distinct_rollup(hll_events, "ts", "uid", bucket_seconds=3600)
    try:
        # force the resolution attempt to raise, with absence DEFINITIVE
        if hasattr(r, "_jvm_ops"):
            del r._jvm_ops
        monkeypatch.setattr(
            spark.conf, "get", lambda *a, **k: (_ for _ in ()).throw(
                RuntimeError("probe boom")
            )
        )
        monkeypatch.setattr(
            SketchRetention, "_shim_absent", staticmethod(lambda s, _c=None: True)
        )
        assert r._sketch_ops() is None
        assert r._jvm_ops is None  # LATCHED — no warning per ask
        # now absence NOT definitive: transient -> warn, do NOT latch
        del r._jvm_ops
        monkeypatch.setattr(
            SketchRetention, "_shim_absent", staticmethod(lambda s, _c=None: False)
        )
        caplog.clear()
        with caplog.at_level(
            logging.WARNING,
            logger="datafusion_uwheel_spark.operators.sketch_retention",
        ):
            assert r._sketch_ops() is None
        assert any(
            rec.levelno == logging.WARNING and "transiently" in rec.getMessage()
            for rec in caplog.records
        )
        assert not hasattr(r, "_jvm_ops")  # NOT latched — next ask re-probes
        monkeypatch.undo()
        assert r._sketch_ops() is not None  # recovery on the next ask
    finally:
        r.unpersist()


# --------------------------------------------------- 4. half_medians n<2
def test_half_medians_degenerate_samples():
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench_mod", Path(__file__).resolve().parents[1] / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert bench.half_medians([0.25]) == [0.25, 0.25]
    assert bench.half_medians([]) == [0.0, 0.0]
    lo, hi = bench.half_medians([0.1, 0.3, 0.2, 0.4])
    assert 0.0 < lo <= hi and lo >= 0.1


def test_selected_indices_sources_tiers_from_the_box(spark, hll_events):
    """_selected_indices must read tier widths from the BOX it is handed,
    never live self.tiers (r11 review pass 3 restored this coverage: with
    the locked publication, box tiers and self.tiers agree in every other
    assertion, so a regression to self.tiers would pass the suite)."""
    import calendar

    from datafusion_uwheel_spark.operators.distinct import build_distinct_rollup

    r = build_distinct_rollup(hll_events, "ts", "uid", bucket_seconds=3600)
    try:
        a = calendar.timegm(datetime(2024, 2, 1).utctimetuple())
        secs, _bufs, _keys = r._bytes_mirror("__hll")
        assert r.tiers == []
        # a box carrying COARSE widths while self.tiers is still fine:
        # the 21600s slop must pull in ALL 6 hourly rows for an ask
        # starting at a+3600 (bucket at a included whole)...
        coarse_box = {"df": r._df, "tiers": [(a + 12 * 3600, 21600)], "m": None}
        assert len(r._selected_indices(coarse_box, secs, a + 3600, a + 7 * 3600)) == 6
        # ...while the fine widths select only the 5 in-range buckets
        fine_box = {"df": r._df, "tiers": [], "m": None}
        assert len(r._selected_indices(fine_box, secs, a + 3600, a + 7 * 3600)) == 5
    finally:
        r.unpersist()


def test_grouped_cells_revalidates_against_box_tiers(spark, hll_events):
    """A compaction landing between the caller's up-front granularity
    check and the mirror-box snapshot must RAISE, not truncate coarse
    buckets into fine cells (r11 review pass 3)."""
    import calendar

    import pytest as _pytest

    from datafusion_uwheel_spark.operators.distinct import build_distinct_rollup

    r = build_distinct_rollup(hll_events, "ts", "uid", bucket_seconds=3600)
    try:
        a = calendar.timegm(datetime(2024, 2, 1).utctimetuple())
        r.compact_before(a + 12 * 3600, 21600)
        # simulate the torn interleaving: the up-front check passed under
        # the OLD (fine) tiers — call _grouped_cells directly, which must
        # re-check against the box's (coarse) tiers and raise
        with _pytest.raises(ValueError, match="not tiled"):
            r._grouped_cells("__hll", "hour", None, None)
        # the public ask raises end-to-end too
        with _pytest.raises(ValueError, match="not tiled"):
            r.distinct_rows_by("hour")
    finally:
        r.unpersist()
