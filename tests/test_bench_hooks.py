"""The benchmark's traced run wraps package functions by name
(``perfbench.tracing.install``). A rename inside the package would make
install raise, or leave a per-layer metric silently empty; this guard
installs the hooks, checks every wrapped attribute resolved to a live
function and was replaced, then checks the undo restores each one."""

from __future__ import annotations

from perfbench import tracing


def test_tracing_hooks_resolve_and_restore(monkeypatch):
    wrapped = []
    real_wrap = tracing._wrap

    def recording_wrap(tracer, owner, attr, name, tag=None):
        out = real_wrap(tracer, owner, attr, name, tag)
        wrapped.append(out)
        return out

    monkeypatch.setattr(tracing, "_wrap", recording_wrap)
    undo = tracing.install(tracing.Tracer())
    try:
        assert wrapped
        names = set()
        for owner, attr, orig in wrapped:
            assert callable(orig), (owner, attr)
            now = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            assert now is not orig, (owner, attr)
            assert now.__wrapped__ is orig, (owner, attr)
            names.add((getattr(owner, "__name__", owner), attr))
        from datafusion_uwheel_spark.operators import lookup
        from datafusion_uwheel_spark.plans import router

        for m in ("count_range", "combine_range", "group_by", "min_max_range", "at_start"):
            assert ("WheelIndex", m) in names
            assert m in lookup.WheelIndex.__dict__
        assert ("Router", "try_rewrite") in names
        assert (router.__name__, "constant_df") in names
    finally:
        undo()
    for owner, attr, orig in wrapped:
        now = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        assert now is orig, (owner, attr)
