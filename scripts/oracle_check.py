"""Local stand-in for the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and the matching
``oracle_sql()`` on DuckDB over the same sf directory, then compares
row count, column names/order-insensitive sorted values. Usage::

    python scripts/oracle_check.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

# this checkout's package, wherever it lives
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)


def compare(name, sdf, con, sql):
    spark_rows = sdf.collect()
    scols = sorted(sdf.columns)
    try:
        ddf = con.sql(sql).df()
    except Exception as err:  # noqa: BLE001
        return f"ORACLE ERROR: {err}"
    dcols = sorted(ddf.columns)
    if [c.lower() for c in scols] != [c.lower() for c in dcols]:
        return f"SCHEMA MISMATCH: spark={scols} duckdb={dcols}"
    if len(spark_rows) != len(ddf):
        return f"ROWCOUNT MISMATCH: spark={len(spark_rows)} duckdb={len(ddf)}"
    s_sorted = sorted(
        [tuple(norm(r[c]) for c in scols) for r in spark_rows]
    )
    cmap = {c.lower(): c for c in ddf.columns}
    d_sorted = sorted(
        tuple(norm(v if not hasattr(v, "to_pydatetime") else v.to_pydatetime()) for v in row)
        for row in ddf[[cmap[c.lower()] for c in scols]].itertuples(index=False, name=None)
    )
    if s_sorted != d_sorted:
        for i, (a, b) in enumerate(zip(s_sorted, d_sorted)):
            if a != b:
                return f"VALUE MISMATCH at sorted row {i}: spark={a} duckdb={b}"
        return "VALUE MISMATCH (tail)"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from datafusion_uwheel_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            err = compare(name, sdf, con, oracles[name]) if name in oracles else "NO ORACLE"
        except Exception as e:  # noqa: BLE001
            import traceback

            traceback.print_exc()
            err = f"SPARK ERROR: {e}"
        dt = time.time() - t0
        status = "ok" if err is None else "FAIL"
        print(f"{status:4} {name:24} {dt:6.2f}s {'' if err is None else err}")
        if err is not None:
            failures += 1
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
