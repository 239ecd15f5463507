"""Wheel-index persistence: save/load the driver-side rollups as parquet.

The reference keeps indices purely in memory — every process start pays the
full build scan (``Builder::build_with_provider``, ``builder.rs:59-252``).
At 100 TB that scan is hours; persisting the *rollups* (bounded by distinct
seconds × a few states, never raw rows) makes the index a build-once
artifact: ``engine.save_indexes(dir)`` after the first build,
``WheelEngine(..., load_indexes=dir)`` afterwards — load time is a driver-
side parquet read of megabytes, no Spark job at all.

Layout: one parquet file per wheel (columns ``sec, cnt[, sum, min, max]``,
written with pyarrow on the driver) plus ``index.json`` carrying identity and
bounds metadata. Parquet gives the same encoding/compression win the
reference gets from bit-packed wheel blocks (``aggregator/mod.rs:36-63``).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .lookup import WheelIndex

__all__ = ["save_wheels", "load_wheels"]

_MANIFEST = "index.json"


def _wheel_file(i: int) -> str:
    return f"wheel_{i:04d}.parquet"


def save_wheels(wheels: dict[str, dict], out_dir: str) -> str:
    """Persist ``{"count": {fk: w}, "min_max": {col: w}, "agg": {(col,fk): w}}``.

    Returns the manifest path. Driver wheels write single parquet files from
    their numpy arrays; Spark-backed wheels write their rollup DataFrame as a
    parquet *directory* (a distributed write — the rollup may exceed driver
    memory by design). A wheel listed under several keys (a seeded pruning
    wheel is also its column's aggregate wheel) is written once, and every
    entry names the same file, so loading restores one shared object."""
    os.makedirs(out_dir, exist_ok=True)
    manifest: list[dict] = []
    #: id(wheel) → (file, at_file) of its first entry
    written: dict[int, tuple] = {}
    i = 0
    for kind, group in wheels.items():
        for key, w in group.items():
            backend = "spark" if hasattr(w, "rollup") else "driver"
            if id(w) in written:
                fname, at_fname = written[id(w)]
            elif backend == "spark":
                fname, at_fname = f"wheel_{i:04d}", None
                w.rollup.write.mode("overwrite").parquet(os.path.join(out_dir, fname))
            else:
                fname, at_fname = _wheel_file(i), None
                # Native dtypes preserved: int64 states of integral columns
                # round-trip exactly (no float coercion past 2^53).
                cols: dict[str, pa.Array] = {
                    "sec": pa.array(np.asarray(w.secs, dtype=np.int64)),
                    "cnt": pa.array(np.asarray(w.cnt, dtype=np.int64)),
                }
                for name, arr in (
                    ("sum", w.sum_),
                    ("min", w.min_),
                    ("max", w.max_),
                    ("sumsq", w.sumsq_),
                    ("vcnt", w.vcnt_),
                ):
                    if arr is not None:
                        cols[name] = pa.array(np.asarray(arr))
                pq.write_table(pa.table(cols), os.path.join(out_dir, fname))
                if w.at_secs_ is not None:
                    # At-start sliver states: sparse, different length — their
                    # own file (empty is fine; absence means "not tracked").
                    at_fname = f"wheel_{i:04d}_at.parquet"
                    at_cols: dict[str, pa.Array] = {
                        "sec": pa.array(np.asarray(w.at_secs_, dtype=np.int64)),
                        "cnt": pa.array(np.asarray(w.at_cnt_, dtype=np.int64)),
                    }
                    for name, arr in (
                        ("vcnt", w.at_vcnt_),
                        ("sum", w.at_sum_),
                        ("min", w.at_min_),
                        ("max", w.at_max_),
                        ("sumsq", w.at_sumsq_),
                    ):
                        if arr is not None:
                            at_cols[name] = pa.array(np.asarray(arr))
                    pq.write_table(pa.table(at_cols), os.path.join(out_dir, at_fname))
            if id(w) not in written:
                written[id(w)] = (fname, at_fname)
                i += 1
            manifest.append(
                {
                    "kind": kind,
                    "key": list(key) if isinstance(key, tuple) else key,
                    "file": fname,
                    "backend": backend,
                    "table": w.table,
                    "column": w.column,
                    "filter_key": w.filter_key,
                    "value_sql_type": getattr(w, "value_sql_type", "DOUBLE"),
                    "at_file": at_fname,
                    "min_ts_us": w.min_ts_us,
                    "max_ts_us": w.max_ts_us,
                    "complete": w.complete,
                    "bucket_seconds": w.bucket_seconds,
                    # retention tiers MUST round-trip: a compacted wheel
                    # reloaded without them would accept fine-grained
                    # bounds that split its coarse buckets
                    "tiers": [list(t) for t in getattr(w, "tiers", None) or []],
                }
            )
    path = os.path.join(out_dir, _MANIFEST)
    with open(path, "w") as f:
        json.dump({"version": 1, "wheels": manifest}, f)
    return path


def load_wheels(in_dir: str, spark=None) -> dict[str, dict]:
    """Inverse of :func:`save_wheels`. ``spark`` is required when the
    manifest contains spark-backend wheels."""
    with open(os.path.join(in_dir, _MANIFEST)) as f:
        manifest = json.load(f)
    out: dict[str, dict] = {"count": {}, "min_max": {}, "agg": {}}
    loaded: dict[str, object] = {}  # file → wheel: shared entries stay shared
    for entry in manifest["wheels"]:
        out.setdefault(entry["kind"], {})
        key = entry["key"]
        key = tuple(key) if isinstance(key, list) else key
        if entry["file"] in loaded:
            out[entry["kind"]][key] = loaded[entry["file"]]
            continue
        if entry.get("backend") == "spark":
            if spark is None:
                raise ValueError("spark session required to load spark-backend wheels")
            from .rollup_table import SparkRollupWheel

            out[entry["kind"]][key] = loaded[entry["file"]] = SparkRollupWheel(
                spark.read.parquet(os.path.join(in_dir, entry["file"])),
                entry["table"],
                entry["column"],
                entry["filter_key"],
                entry["min_ts_us"],
                entry["max_ts_us"],
                entry["complete"],
                entry.get("bucket_seconds", 1),
                value_sql_type=entry.get("value_sql_type", "DOUBLE"),
            )
            continue
        t = pq.read_table(os.path.join(in_dir, entry["file"]))

        def col(tab, name):
            return tab[name].to_numpy() if name in tab.column_names else None

        at: dict[str, object] = {}
        if entry.get("at_file"):
            ta = pq.read_table(os.path.join(in_dir, entry["at_file"]))
            at = {
                "at_secs_": ta["sec"].to_numpy(),
                "at_cnt_": ta["cnt"].to_numpy(),
                "at_vcnt_": col(ta, "vcnt"),
                "at_sum_": col(ta, "sum"),
                "at_min_": col(ta, "min"),
                "at_max_": col(ta, "max"),
                "at_sumsq_": col(ta, "sumsq"),
            }
        w = WheelIndex(
            entry["table"],
            entry["column"],
            entry["filter_key"],
            t["sec"].to_numpy(),
            t["cnt"].to_numpy(),
            sum_=col(t, "sum"),
            min_=col(t, "min"),
            max_=col(t, "max"),
            sumsq_=col(t, "sumsq"),
            vcnt_=col(t, "vcnt"),
            value_sql_type=entry.get("value_sql_type", "DOUBLE"),
            min_ts_us=entry["min_ts_us"],
            max_ts_us=entry["max_ts_us"],
            complete=entry["complete"],
            bucket_seconds=entry.get("bucket_seconds", 1),
            tiers=[tuple(t) for t in entry.get("tiers", [])] or None,
            **at,
        )
        out[entry["kind"]][key] = loaded[entry["file"]] = w
    return out
