"""Cross-family one-pass sketch rollup build.

The three sketch rollup families (HLL distinct counts — :mod:`.distinct`,
KLL quantiles — :mod:`.quantiles`, theta set algebra — :mod:`.theta`)
aggregate over the IDENTICAL group-by key: the bucket second, plus the
optional partition key. Built one family at a time, each pays its own full
table scan for a byte-identical pass shape — at 100 TB the scan IS the
build cost, repeated N times. This module applies the engine's existing
multi-column one-pass discipline (``WheelEngine.build_indexes``,
:func:`.distinct.build_distinct_rollups`,
:func:`.quantiles.build_quantile_rollups`) ACROSS families: ONE declarative
aggregation computes every requested sketch column in a single scan, and
each returned handle is a per-column view over a shared refcounted cache
(``SketchRetention._detach_shared`` releases it when the last sibling
unpersists or mutates away).

The driver mirrors that serve zero-job direct asks land the same way: the
one action that materializes the cache also sizes every column's mirror
(rows and sketch bytes, checked against each family's caps), and ONE
``collect`` of the shared frame fills every handle's mirror box through
the landing ``_bytes_mirror`` uses (:func:`.sketch_retention.land_mirror`)
— the build costs the scan plus one collect, not a sizing job and a
collect per family.

Answer parity with standalone builds: HLL state is per-register maxima and
theta state is a smallest-hashes set — both order-independent, so their
sketches (and every estimate) are identical however the build batches
rows. KLL compaction is randomized, so quantile answers carry the same
rank-error bound as ANY rebuild (the documented KLL contract — repeated
builds may return adjacent data values within the bound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .distinct import DistinctRollup
from .quantiles import QuantileRollup, _fns, _suffix_for
from .rollups import time_sec_col
from .sketch_retention import land_mirror, mirror_bytes
from .theta import ThetaRollup

__all__ = ["build_sketch_rollups"]

#: same probes-at-task-launch-floor trade as the per-family builders
_CACHE_PARTITIONS = 4


def build_sketch_rollups(
    df: DataFrame,
    time_column: str,
    distinct: tuple[str, ...] | list[str] = (),
    quantile: tuple[str, ...] | list[str] = (),
    theta: tuple[str, ...] | list[str] = (),
    bucket_seconds: int = 3600,
    lg_k: int = 12,
    k: int = 200,
    partition_by: str | None = None,
) -> dict[str, dict]:
    """Every requested family's rollup from ONE scan of ``df``.

    Returns ``{"distinct": {col: DistinctRollup}, "quantile":
    {col: QuantileRollup}, "theta": {col: ThetaRollup}}`` — each handle
    behaves exactly like its standalone-build counterpart (same bucketing,
    same sketch parameters, mirror warmed for zero-job direct asks);
    ``unpersist`` on a handle drops its claim on the shared cache, which is
    released when the last sibling detaches. ``lg_k`` sizes the HLL and
    theta sketches, ``k`` the KLL sketches, as in the per-family builders.
    """
    from pyspark import StorageLevel

    distinct, quantile, theta = tuple(distinct), tuple(quantile), tuple(theta)
    if not (distinct or quantile or theta):
        raise ValueError("at least one family's columns must be non-empty")
    for fam_name, cols in (
        ("distinct", distinct), ("quantile", quantile), ("theta", theta)
    ):
        if len({c.lower() for c in cols}) != len(cols):
            # fail here, not as a refcount leak: the handles dict is keyed
            # by column, so a duplicate would orphan one claim on the
            # shared cache and the parquet cache could never be released
            raise ValueError(f"duplicate columns in {fam_name}={cols!r}")
    sec = time_sec_col(df, time_column)
    if bucket_seconds != 1:
        sec = sec - (sec % bucket_seconds)
    keys = [sec.alias("__sec")]
    if partition_by is not None:
        keys.append(F.col(partition_by).alias("__key"))
    aggs = []
    for i, c in enumerate(distinct):
        aggs.append(F.hll_sketch_agg(F.col(c), F.lit(lg_k)).alias(f"__hll{i}"))
    suffixes = {c: _suffix_for(df, c) for c in quantile}
    for i, c in enumerate(quantile):
        sketch = _fns(suffixes[c])[0]
        cast = "bigint" if suffixes[c] == "bigint" else "double"
        aggs.append(sketch(F.col(c).cast(cast), F.lit(k)).alias(f"__kll{i}"))
    for i, c in enumerate(theta):
        # same shim-registered aggregate (and the same bare-identifier
        # contract on the column name) as build_theta_rollup
        aggs.append(
            F.expr(f"theta_sketch_agg({c}, {lg_k})").alias(f"__theta{i}")
        )
    combined = (
        df.filter(F.col(time_column).isNotNull())
        .groupBy(*keys)
        .agg(*aggs)
        .coalesce(_CACHE_PARTITIONS)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # ONE materializing scan for every family, which also sizes every
    # column's mirror (rows and sketch bytes, the per-family caps) as an
    # observation of the same action: a global aggregate over the cache
    # would cost an exchange and a job of its own
    sizing = Observation()
    sketch_cols = [a for a in combined.columns if a not in ("__sec", "__key")]
    combined.observe(
        sizing,
        F.count(F.lit(1)).alias("n"),
        *(mirror_bytes(a).alias(a) for a in sketch_cols),
    ).write.format("noop").mode("overwrite").save()
    sized = sizing.get
    n_rows = sized["n"]
    holder = {
        "df": combined,
        "refs": len(distinct) + len(quantile) + len(theta),
    }
    base_cols = ["__sec"] + (["__key"] if partition_by is not None else [])
    out: dict[str, dict] = {"distinct": {}, "quantile": {}, "theta": {}}
    handles = []  # (handle, sketch column of the shared frame)
    for i, c in enumerate(distinct):
        view = combined.select(*base_cols, F.col(f"__hll{i}").alias("__hll"))
        h = DistinctRollup(
            view, c, bucket_seconds, lg_k, key_column=partition_by
        )
        handles.append((h, f"__hll{i}"))
        out["distinct"][c] = h
    for i, c in enumerate(quantile):
        view = combined.select(*base_cols, F.col(f"__kll{i}").alias("__kll"))
        h = QuantileRollup(
            view, c, bucket_seconds, k, suffixes[c], key_column=partition_by
        )
        handles.append((h, f"__kll{i}"))
        out["quantile"][c] = h
    for i, c in enumerate(theta):
        view = combined.select(
            *base_cols, F.col(f"__theta{i}").alias("__theta")
        )
        h = ThetaRollup(view, c, bucket_seconds, lg_k, key_column=partition_by)
        h._rollup_rows = n_rows  # retention_by's bounded-lag proof (r15)
        handles.append((h, f"__theta{i}"))
        out["theta"][c] = h
    for h, _ in handles:
        h._shared = holder
    _warm_mirrors(combined, handles, sized, partition_by is not None)
    return out


def _warm_mirrors(combined: DataFrame, handles: list, sized, keyed: bool) -> None:
    """Fill every handle's driver mirror (zero-job direct asks from the
    start) from ONE collect of the shared frame: each handle gets exactly
    what its own ``_bytes_mirror`` would collect from its view — the same
    rows in the same order — without a sizing job and a collect per
    family. Only sessions that can serve direct asks warm; a family over
    its caps gets ``False`` (the job path is its plan), as there."""
    fits = []
    for h, c in handles:
        if h._sketch_ops() is None:
            continue
        if h._mirror_fits(sized["n"], sized[c]):
            fits.append((h, c))
        else:
            h._mirror_box()["m"] = False
    if not fits:
        return
    cols = ["__sec"] + [c for _, c in fits] + (["__key"] if keyed else [])
    rows = combined.select(*cols).collect()
    key = len(cols) - 1 if keyed else None
    for i, (h, _) in enumerate(fits, start=1):
        h._mirror_box()["m"] = land_mirror(rows, i, key)
