"""r15 probe: driver-evaluated CTE outer query vs the Spark splice vs
vanilla — parity (exact rows) and per-call timing. Not part of the bench."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

from datafusion_uwheel_spark import WheelEngine, get_spark
from datafusion_uwheel_spark.catalog import WheelCatalog
from datafusion_uwheel_spark.sources import read_parquet

spark = get_spark(app_name="probe_cte")
ev = os.path.join(SF, "events.parquet")
eng = WheelEngine(spark, "events", ev, time_column="ts")
eng.build_index("value")
read_parquet(spark, ev).createOrReplaceTempView("events")

cte_sql = (
    "WITH cur AS (SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, "
    "SUM(value) AS s FROM events WHERE ts >= '2024-01-08 00:00:00' AND "
    "ts < '2024-01-09 00:00:00' GROUP BY date_trunc('hour', ts)), "
    "prev AS (SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, "
    "SUM(value) AS s FROM events WHERE ts >= '2024-01-07 00:00:00' AND "
    "ts < '2024-01-08 00:00:00' GROUP BY date_trunc('hour', ts)) "
    "SELECT cur.bucket AS bucket, cur.n AS n, prev.n AS prev_n, cur.s AS s, "
    "prev.s AS prev_s FROM cur JOIN prev ON prev.bucket = cur.bucket - INTERVAL 1 DAY "
    "WHERE cur.n > (SELECT AVG(n) FROM prev) ORDER BY bucket"
)

cat = WheelCatalog(spark)
cat.adopt(eng)

# routed (driver-evaluated) path
got = cat.sql(cte_sql)
route = cat.last_route
print("route:", route.kind, "evaluated:", route.detail.get("evaluated"))
rows_fast = [tuple(r) for r in got.collect()]

# splice path (force: evaluate_outer disabled via monkeypatch)
from datafusion_uwheel_spark.plans import cte_eval

orig = cte_eval.parse_outer
cte_eval.parse_outer = lambda main: None
got2 = cat.sql(cte_sql)
assert cat.last_route.detail.get("evaluated") == "splice", cat.last_route
rows_splice = [tuple(r) for r in got2.collect()]
cte_eval.parse_outer = orig

# vanilla
rows_vanilla = [tuple(r) for r in spark.sql(cte_sql).collect()]

print("n rows:", len(rows_fast), len(rows_splice), len(rows_vanilla))
assert rows_fast == rows_splice, (rows_fast[:3], rows_splice[:3])
assert rows_fast == rows_vanilla, (rows_fast[:3], rows_vanilla[:3])
print("PARITY OK")

# sql_rows parity: the same routed CTE answers, as Rows
rows_sr = [tuple(r) for r in cat.sql_rows(cte_sql)]
assert rows_sr == rows_fast
print("sql_rows PARITY OK")

# timing
def t(fn, n=15):
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    ts.sort()
    return ts[len(ts) // 2], ts[0], ts[-1]


print("routed cat.sql+collect p50/min/max:", t(lambda: cat.sql(cte_sql).collect()))
print("routed sql_rows        p50/min/max:", t(lambda: cat.sql_rows(cte_sql)))
splice_sql = route.detail["sql"]
print("splice floor           p50/min/max:", t(lambda: spark.sql(splice_sql).collect(), 9))
print("vanilla                p50/min/max:", t(lambda: spark.sql(cte_sql).collect(), 9))
spark.stop()
