"""The one sketch rollup builder, for one column or many, of one family or
all three.

The three sketch rollup families (HLL distinct counts — :mod:`.distinct`,
KLL quantiles — :mod:`.quantiles`, theta set algebra — :mod:`.theta`)
aggregate over the IDENTICAL group-by key: the bucket second, plus the
optional partition key. Built one column at a time, each would pay its own
full table scan for a byte-identical pass shape — at 100 TB the scan IS
the build cost. :func:`build_sketch_rollups` applies the engine's
multi-column one-pass discipline (``WheelEngine.build_indexes``) across
columns and families: ONE declarative aggregation computes every requested
sketch column in a single scan, and each returned handle is a per-column
view over a shared refcounted cache (``SketchRetention._detach_shared``
releases it when the last sibling unpersists or mutates away). The
per-family builders (``build_distinct_rollup`` and its siblings) are
one-column calls into it; merge, save/load and unpersist live once in
:class:`.sketch_retention.SketchRetention`.

The driver mirrors that serve zero-job direct asks land the same way: the
one action that materializes the cache also sizes every column's mirror
(rows and sketch bytes, checked against each family's caps), and ONE
``collect`` of the shared frame fills every handle's mirror box through
the landing ``_bytes_mirror`` uses (:func:`.sketch_retention.land_mirror`)
— the build costs the scan plus one collect, not a sizing job and a
collect per column.

Answer parity between one-column and many-column builds: HLL state is
per-register maxima and theta state is a smallest-hashes set — both
order-independent, so their sketches (and every estimate) are identical
however the build batches rows. KLL compaction is randomized, so quantile
answers carry the same rank-error bound as ANY rebuild (the documented
KLL contract — repeated builds may return adjacent data values within the
bound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .distinct import DistinctRollup
from .quantiles import QuantileRollup, _suffix_for
from .sketch_retention import _CACHE_PARTITIONS, land_mirror, mirror_bytes
from .theta import ThetaRollup

__all__ = ["build_sketch_rollups"]


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
    {col: QuantileRollup}, "theta": {col: ThetaRollup}}`` — every handle
    is cached for probe-many use, with its mirror warmed for zero-job
    direct asks; ``unpersist`` on a handle drops its claim on the shared
    cache, which is released when the last sibling detaches. ``lg_k``
    sizes the HLL and theta sketches, ``k`` the KLL sketches."""
    from pyspark import StorageLevel

    requests = {
        "distinct": tuple(distinct), "quantile": tuple(quantile), "theta": tuple(theta)
    }
    if not any(requests.values()):
        raise ValueError("at least one family's columns must be non-empty")
    for fam_name, cols in requests.items():
        if len({c.lower() for c in cols}) != len(cols):
            # fail here, not as a refcount leak: the handles dict is keyed
            # by column, so a duplicate would orphan one claim on the
            # shared cache and the parquet cache could never be released
            raise ValueError(f"duplicate columns in {fam_name}={cols!r}")
    make = {
        "distinct": lambda c: DistinctRollup(
            None, c, bucket_seconds, lg_k, key_column=partition_by
        ),
        "quantile": lambda c: QuantileRollup(
            None, c, bucket_seconds, k, _suffix_for(df, c), key_column=partition_by
        ),
        "theta": lambda c: ThetaRollup(
            None, c, bucket_seconds, lg_k, key_column=partition_by
        ),
    }
    out = {fam: {c: make[fam](c) for c in cols} for fam, cols in requests.items()}
    handles = [h for fam in out.values() for h in fam.values()]
    sketch_cols = [f"{h._STATE}{i}" for i, h in enumerate(handles)]
    combined = (
        handles[0]
        ._sketch_frame(
            df, time_column,
            [h._sketch_agg().alias(c) for h, c in zip(handles, sketch_cols)],
        )
        .coalesce(_CACHE_PARTITIONS)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # ONE materializing scan for every column, which also sizes every
    # column's mirror (rows and sketch bytes, the per-family caps) as an
    # observation of the same action: a global aggregate over the cache
    # would cost an exchange and a job of its own
    sizing = Observation()
    combined.observe(
        sizing,
        F.count(F.lit(1)).alias("n"),
        *(mirror_bytes(c).alias(c) for c in sketch_cols),
    ).write.format("noop").mode("overwrite").save()
    sized = sizing.get
    holder = {"df": combined, "refs": len(handles)}
    base_cols = ["__sec"] + (["__key"] if partition_by is not None else [])
    for h, c in zip(handles, sketch_cols):
        h._df = combined.select(*base_cols, F.col(c).alias(h._STATE))
        h._shared = holder
        h._rollup_rows = sized["n"]
    _warm_mirrors(combined, list(zip(handles, sketch_cols)), sized, partition_by is not None)
    return out


def _warm_mirrors(combined: DataFrame, handles: list, sized, keyed: bool) -> None:
    """Fill every handle's driver mirror (zero-job direct asks from the
    start) from ONE collect of the shared frame: each handle gets exactly
    what its own ``_bytes_mirror`` would collect from its view — the same
    rows in the same order — without a sizing job and a collect per
    column. Only sessions that can serve direct asks warm; a family over
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
