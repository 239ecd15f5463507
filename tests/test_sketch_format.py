"""The sketch rollups' on-disk format: sidecar file name, sidecar JSON
keys and parquet columns per family (HLL, KLL over bigint and double,
theta; keyed and unkeyed), and a save/load round trip that keeps every
sketch byte and every answer."""

from __future__ import annotations

import json
import os

import pytest

from datafusion_uwheel_spark.operators.distinct import (
    build_distinct_rollup,
    load_distinct_rollup,
)
from datafusion_uwheel_spark.operators.quantiles import (
    build_quantile_rollup,
    load_quantile_rollup,
)
from datafusion_uwheel_spark.operators.theta import (
    build_theta_rollup,
    load_theta_rollup,
)
from datafusion_uwheel_spark.sources import read_parquet

A, B = "2024-01-05 00:00:00", "2024-01-12 00:00:00"
#: one day of the small table (45 rows): a KLL merge of so few items
#: never compacts, so its answer is exact
D1, D2 = "2024-01-06 00:00:00", "2024-01-07 00:00:00"
R1 = ("2024-01-02 00:00:00", "2024-01-05 00:00:00")
R2 = ("2024-01-05 00:00:00", "2024-01-08 00:00:00")

_COMMON = {"column", "bucket_seconds", "key_column", "tiers", "stale_reason"}

#: family -> (build, load, sidecar file, family keys, state column, column)
FAMILIES = {
    "hll": (build_distinct_rollup, load_distinct_rollup,
            "_distinct_meta.json", {"lg_k"}, "__hll", "user_id"),
    "kll_double": (build_quantile_rollup, load_quantile_rollup,
                   "_quantile_meta.json", {"k", "suffix"}, "__kll", "value"),
    "kll_bigint": (build_quantile_rollup, load_quantile_rollup,
                   "_quantile_meta.json", {"k", "suffix"}, "__kll", "user_id"),
    "theta": (build_theta_rollup, load_theta_rollup,
              "_theta_meta.json", {"lg_k"}, "__theta", "user_id"),
}


@pytest.fixture(scope="module")
def events(spark, sf_small_dir):
    return read_parquet(spark, f"{sf_small_dir}/events.parquet")


def _rows(r, keyed, state):
    return sorted(
        (row["__sec"], row["__key"] if keyed else None, bytes(row[state]))
        for row in r._df.collect()
    )


def _answers(family, r, keyed):
    if family == "hll":
        out = [r.approx_distinct(A, B)]
        if keyed:
            out += [r.approx_distinct(A, B, key="click"),
                    r.approx_distinct_by_key(A, B).collect()]
        return out
    if family == "theta":
        out = [r.approx_distinct(A, B), r.approx_retained(R1, R2),
               r.approx_new(R1, R2), r.approx_jaccard(R1, R2)]
        if keyed:
            out.append(r.retained_by_key(R1, R2).collect())
        return out
    # KLL merges compact at random; below k items they do not compact
    out = [r.approx_quantile([0.1, 0.5, 0.9], D1, D2)]
    if keyed:
        out.append(r.approx_quantile(0.5, D1, D2, key="purchase"))
        assert out[-1] is not None
    return out


@pytest.mark.parametrize("keyed", [False, True], ids=["unkeyed", "keyed"])
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_save_format_and_round_trip(spark, events, tmp_path, family, keyed):
    build, load, sidecar, fam_keys, state, column = FAMILIES[family]
    part = "event_type" if keyed else None
    r = build(events, "ts", column, partition_by=part)
    path = str(tmp_path / family)
    try:
        r.save(path)
        with open(os.path.join(path, sidecar)) as f:
            meta = json.load(f)
        assert set(meta) == _COMMON | fam_keys
        assert meta["column"] == column and meta["key_column"] == part
        if family.startswith("kll"):
            assert meta["suffix"] == family.split("_")[1]
        assert spark.read.parquet(path).columns == (
            ["__sec"] + (["__key"] if keyed else []) + [state]
        )
        back = load(spark, path)
        try:
            assert type(back) is type(r)
            assert _rows(back, keyed, state) == _rows(r, keyed, state)
            assert _answers(family, back, keyed) == _answers(family, r, keyed)
        finally:
            back.unpersist()
    finally:
        r.unpersist()
