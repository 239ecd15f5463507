"""Seeded generators for what the benchmark asks: dashboard query texts,
the hot panel, the door schedule and the micro-batch replay plan.

Each ask carries the Spark SQL the program receives, a DuckDB twin of the
same question for the answer check, and the route kind the family is
pinned to. Nothing here touches Spark.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from perfbench import data

T0 = datetime.fromtimestamp(data.T0, tz=timezone.utc).replace(tzinfo=None)
#: The engine is built over the first BUILD_HOURS of the table; the replay
#: delivers the remaining 18 hours as 6-hour micro-batches.
BUILD_HOURS = data.DAYS * 24 - 18
BATCH_HOURS = 6
LATE_SHARE = 0.10

TABLE = "events"


@dataclass
class Ask:
    door: str  # rows | hot | df | shim | sketch | delegate
    family: str
    sql: str = ""  # Spark SQL text (empty for direct sketch asks)
    duck: str = ""  # DuckDB twin used by the answer check
    kind: str = ""  # pinned route kind ("" = not routed through an engine)
    args: tuple = field(default=())  # direct sketch ask arguments


def _ts(t: datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def duck_sql(sql: str) -> str:
    """DuckDB's ``date_trunc`` returns DATE for day units; Spark returns
    TIMESTAMP. Cast so both sides compare as timestamps."""
    for unit in ("hour", "day"):
        sql = sql.replace(
            f"date_trunc('{unit}', ts) AS", f"CAST(date_trunc('{unit}', ts) AS TIMESTAMP) AS"
        )
    return sql


class Generator:
    """Fresh ranges and texts from one seeded stream. ``days`` bounds the
    span that answers may cover (the whole table once ingested)."""

    def __init__(self, seed: int, days: int = data.DAYS):
        self.rng = random.Random(seed)
        self.days = days

    # ------------------------------------------------------------ ranges
    def _range(self, unit: int, min_units: int, max_units: int):
        span = self.days * 86400 // unit
        n = self.rng.randint(min_units, min(max_units, span))
        a = self.rng.randrange(0, span - n + 1)
        return T0 + timedelta(seconds=a * unit), T0 + timedelta(seconds=(a + n) * unit)

    def _where(self, unit=1, lo=600, hi=7 * 86400):
        a, b = self._range(unit, max(1, lo // unit), max(2, hi // unit))
        return f"ts >= '{_ts(a)}' AND ts < '{_ts(b)}'"

    # ---------------------------------------------------------- families
    def constant(self, family: str, width: int = 0) -> tuple[str, str]:
        """(sql, kind) of a routed constant-answer ask over a fresh range.
        A nonzero ``width`` (seconds) makes a panel tile: the range has that
        length and starts on an hour (a day, for day groups), as dashboard
        tiles snap to buckets, so only which hour it starts on is drawn."""
        t = TABLE

        def span(unit, lo, hi):
            if width:
                unit = max(unit, 3600)
                return self._range(unit, width // unit, width // unit)
            return self._range(unit, max(1, lo // unit), max(2, hi // unit))

        def where(unit=1, lo=600, hi=7 * 86400):
            a, b = span(unit, lo, hi)
            return f"ts >= '{_ts(a)}' AND ts < '{_ts(b)}'"

        if family == "count":
            return f"SELECT COUNT(*) AS n FROM {t} WHERE {where()}", "count_range"
        if family == "sum":
            return f"SELECT SUM(value) AS s FROM {t} WHERE {where()}", "single_agg"
        if family == "keyed_sum":
            return (
                f"SELECT SUM(value) AS s FROM {t} WHERE {where()} "
                "AND event_type = 'click'",
                "single_agg",
            )
        if family == "stddev":
            return f"SELECT STDDEV(value) AS sd FROM {t} WHERE {where()}", "single_agg"
        if family == "hourly":
            w = where(3600, 3 * 3600, 2 * 86400)
            return (
                "SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n, SUM(value) AS s "
                f"FROM {t} WHERE {w} GROUP BY date_trunc('hour', ts) ORDER BY h",
                "group_by",
            )
        if family == "dim":
            w = where(86400, 86400, 10 * 86400)
            return (
                "SELECT date_trunc('day', ts) AS d, event_type, COUNT(*) AS n, "
                f"SUM(value) AS s FROM {t} WHERE {w} "
                "GROUP BY date_trunc('day', ts), event_type ORDER BY d, event_type",
                "group_by",
            )
        if family == "between":
            a, b = span(1, 600, 7 * 86400)
            return (
                f"SELECT COUNT(*) AS n, SUM(value) AS s FROM {t} "
                f"WHERE ts BETWEEN '{_ts(a)}' AND '{_ts(b)}'",
                "hybrid_agg",
            )
        raise ValueError(family)

    def ask(self, door: str, family: str, width: int = 0) -> Ask:
        if door in ("rows", "hot", "df", "shim"):
            if family == "prune":
                v = self.rng.randint(1000, 5000)
                sql = f"SELECT * FROM {TABLE} WHERE {self._where()} AND value > {v}"
                return Ask(door, family, sql, sql, "prune_minmax")
            if family == "cte":
                sql = self.cte()
                return Ask(door, family, sql, duck_sql(sql), "cte_rewrite")
            sql, kind = self.constant(family, width)
            # a shim answer has no route decision; its pin is a plan that
            # scans no file of the table
            return Ask(door, family, sql, duck_sql(sql), "" if door == "shim" else kind)
        if door == "sketch":
            if family == "distinct":
                a, b = self._range(3600, 2, 7 * 24)
                return Ask(door, family, args=("user_id", _ts(a), _ts(b)))
            if family == "quantile":
                a, b = self._range(3600, 2, 7 * 24)
                q = self.rng.choice((0.5, 0.9, 0.99))
                return Ask(door, family, args=("value", q, _ts(a), _ts(b)))
            if family == "retained":
                a, b = self._range(3600, 2, 3 * 24)
                w = b - a
                return Ask(
                    door, family,
                    args=("user_id", (_ts(a), _ts(b)), (_ts(b), _ts(b + w))),
                ) if b + w <= T0 + timedelta(days=self.days) else Ask(
                    door, family,
                    args=("user_id", (_ts(a - w), _ts(a)), (_ts(a), _ts(b))),
                )
        if door == "delegate":
            # a residual filter on a column no wheel is keyed on
            sql = (
                f"SELECT COUNT(*) AS n, SUM(value) AS s FROM {TABLE} WHERE "
                f"{self._where()} AND user_id = {self.rng.randrange(data.USERS)}"
            )
            return Ask(door, family, sql, sql, "delegate")
        raise ValueError((door, family))

    def cte(self) -> str:
        """Day-over-day hourly comparison: two routed CTEs joined on the
        driver (the catalog's CTE evaluator)."""
        a, _ = self._range(86400, 1, 1)
        if a == T0:
            a += timedelta(days=1)
        p = a - timedelta(days=1)
        b = a + timedelta(days=1)

        def side(lo, hi):
            return (
                "SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, SUM(value) AS s "
                f"FROM {TABLE} WHERE ts >= '{_ts(lo)}' AND ts < '{_ts(hi)}' "
                "GROUP BY date_trunc('hour', ts)"
            )

        return (
            f"WITH cur AS ({side(a, b)}), prev AS ({side(p, a)}) "
            "SELECT cur.bucket AS bucket, cur.n AS n, prev.n AS prev_n, cur.s AS s, "
            "prev.s AS prev_s FROM cur JOIN prev ON prev.bucket = cur.bucket - INTERVAL 1 DAY "
            "WHERE cur.n > (SELECT AVG(n) FROM prev) ORDER BY bucket"
        )


ROWS_FAMILIES = ("count", "sum", "keyed_sum", "stddev", "hourly", "dim", "between")
DF_FAMILIES = ROWS_FAMILIES + ("prune", "cte")
SHIM_FAMILIES = ("count", "sum", "keyed_sum", "hourly", "dim")
SKETCH_FAMILIES = ("distinct", "quantile", "retained")
#: The hot panel: (family, range length in seconds) of each tile. Lengths
#: are fixed, as on a dashboard ("last hour", "last 7 days"), so what a
#: panel costs does not depend on the seed; only where its ranges end does.
PANEL = (
    ("count", 3600), ("count", 7 * 86400), ("sum", 86400), ("sum", 7 * 86400),
    ("keyed_sum", 86400), ("keyed_sum", 3 * 86400), ("stddev", 6 * 3600),
    ("stddev", 86400), ("hourly", 24 * 3600), ("hourly", 48 * 3600), ("dim", 7 * 86400),
    ("between", 86400),
)
PANEL_SIZE = len(PANEL)
FRESH_PER_FAMILY = 12


def panel(seed: int) -> list[Ask]:
    """The hot panel: fixed texts a dashboard re-asks (fits the memo)."""
    g = Generator(seed * 7919 + 1)
    return [g.ask("hot", family, width) for family, width in PANEL]


def cycle(rng: random.Random, n: int) -> list[tuple[str, str]]:
    """One round of (door, family) slots, in blocks a dashboard sends
    together and in a fixed block order: a burst of ``FRESH_PER_FAMILY``
    fresh Row-door asks per constant family, their families interleaved in
    seeded order; a refresh of the whole hot panel in its own order;
    3 DataFrame-door asks; the 3 sketch asks; and a
    delegate or, every other round, a shim ask."""
    rows = [("rows", f) for f in ROWS_FAMILIES for _ in range(FRESH_PER_FAMILY)]
    rng.shuffle(rows)
    slots = rows + [("hot", str(i)) for i in range(PANEL_SIZE)]
    slots += [("df", DF_FAMILIES[(3 * n + i) % len(DF_FAMILIES)]) for i in range(3)]
    slots += [("sketch", f) for f in SKETCH_FAMILIES]
    if n % 2 == 0:
        slots.append(("delegate", "residual"))
    else:
        slots.append(("shim", SHIM_FAMILIES[(n // 2) % len(SHIM_FAMILIES)]))
    return slots


def replay_plan(seed: int, n_batches: int) -> list[tuple[int, int]]:
    """Micro-batch delivery plan over the replayed hours: batch ``i`` covers
    ``BATCH_HOURS`` of event time; about ``LATE_SHARE`` of each window's
    rows are held back and delivered with a later batch, and two adjacent
    batches are swapped (out of order). Returns ``(window, late_to)`` pairs
    in delivery order, where rows of ``window`` whose late draw fires are
    delivered with batch ``late_to`` instead."""
    rng = random.Random(seed * 31 + 5)
    order = list(range(n_batches))
    j = rng.randrange(n_batches - 1)
    order[j], order[j + 1] = order[j + 1], order[j]
    return [(w, min(n_batches - 1, pos + 1)) for pos, w in enumerate(order)]
