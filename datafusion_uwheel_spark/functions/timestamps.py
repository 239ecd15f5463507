"""Timestamp normalization and bucket math (pure functions, no Spark).

Mirrors the reference's timestamp handling — ``scalar_to_timestamp`` /
``extract_timestamps_from_array`` (reference ``datafusion-uwheel/src/lib.rs:1178-1272``)
— with two deliberate fixes (SURVEY.md §4.3):

* Date literals are converted properly to epoch time (the reference's
  ``Date32`` index-build path mis-scales days as milliseconds,
  ``lib.rs:1250-1258``; we never replicate that).
* Everything is UTC. Callers must pin ``spark.sql.session.timeZone=UTC``
  (see :mod:`datafusion_uwheel_spark.session`).

All internal math is integer **epoch microseconds** (Spark's native timestamp
precision) and integer **epoch seconds** for wheel buckets (the reference's
finest wheel dimension is seconds, ``builder.rs:99-112``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import date, datetime, timezone

__all__ = [
    "GRANULARITY_SECONDS",
    "GRANULARITIES",
    "CALENDAR_GRANULARITIES",
    "MICROS_PER_SECOND",
    "WEEK_EPOCH_OFFSET_SECONDS",
    "bucket_start_sec",
    "bucket_starts",
    "parse_ts_literal",
    "sec_to_datetime",
    "secs_to_datetimes",
    "us_to_datetime",
    "datetime_to_us",
    "is_second_aligned_us",
]

MICROS_PER_SECOND = 1_000_000

#: Supported ``date_trunc`` granularities and their widths in seconds.
#: Matches the reference's wheel dimensions — second/minute/hour/day/week
#: (``lib.rs:348-358``; ``month``/``year`` are intentionally unsupported and
#: must fall through to the host engine).
GRANULARITY_SECONDS: dict[str, int] = {
    "second": 1,
    "minute": 60,
    "hour": 3_600,
    "day": 86_400,
    "week": 604_800,
}
GRANULARITIES = tuple(GRANULARITY_SECONDS)

#: Calendar granularities with variable widths. The reference refuses these
#: (``lib.rs:348-358`` maps only second..week); we extend: month/quarter/
#: year boundaries are day-aligned, so any wheel whose buckets divide a day
#: can aggregate into them exactly.
CALENDAR_GRANULARITIES = ("month", "quarter", "year")

#: ``date_trunc('week', ts)`` truncates to Monday (both Spark and DuckDB).
#: The epoch (1970-01-01) is a Thursday; the Monday on/before it is
#: 1969-12-29 = epoch − 3 days. Week buckets are therefore aligned to
#: ``sec ≡ WEEK_EPOCH_OFFSET_SECONDS (mod 604800)``.
WEEK_EPOCH_OFFSET_SECONDS = -259_200


def bucket_start_sec(sec: int, granularity: str) -> int:
    """Start (epoch seconds) of the ``granularity`` bucket containing ``sec``.

    Matches Spark/DuckDB ``date_trunc`` semantics in UTC, including
    Monday-aligned weeks.
    """
    step = GRANULARITY_SECONDS[granularity]
    if granularity == "week":
        off = WEEK_EPOCH_OFFSET_SECONDS
        return (sec - off) // step * step + off
    return sec // step * step


def bucket_starts(secs, granularity):
    """Vectorized :func:`bucket_start_sec` over a numpy int array.

    ``granularity`` is a named ``date_trunc`` granularity, or an **int
    width in seconds** for epoch-aligned tumbling windows (Spark
    ``window(ts, '<w>')`` with the default zero ``startTime`` — note no
    Monday offset, unlike ``'week'``). ``month``/``year`` use numpy's exact
    UTC calendar truncation (datetime64 unit conversion) — matches
    Spark/DuckDB ``date_trunc``."""
    if isinstance(granularity, int):
        return secs // granularity * granularity
    if granularity in CALENDAR_GRANULARITIES:
        import numpy as np

        months = secs.astype("datetime64[s]").astype("datetime64[M]")
        if granularity == "quarter":
            mi = months.astype(np.int64)
            months = (mi - mi % 3).astype("datetime64[M]")
        elif granularity == "year":
            months = months.astype("datetime64[Y]").astype("datetime64[M]")
        return months.astype("datetime64[s]").astype(np.int64)
    step = GRANULARITY_SECONDS[granularity]
    if granularity == "week":
        off = WEEK_EPOCH_OFFSET_SECONDS
        return (secs - off) // step * step + off
    return secs // step * step


@dataclass(frozen=True)
class TsLiteral:
    """A parsed timestamp literal, kept at microsecond precision."""

    epoch_us: int

    @property
    def epoch_sec_floor(self) -> int:
        return self.epoch_us // MICROS_PER_SECOND

    @property
    def second_aligned(self) -> bool:
        return self.epoch_us % MICROS_PER_SECOND == 0


_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$", re.ASCII)


def parse_ts_literal(text: str) -> TsLiteral | None:
    """Parse a SQL timestamp/date literal string to UTC epoch microseconds.

    Accepts the literal shapes the reference accepts (RFC3339 strings,
    dates — ``expr.rs:244-257``) plus the plain ``YYYY-MM-DD HH:MM:SS[.f]``
    form Spark and DuckDB both understand. Naive literals are interpreted
    as UTC. Returns ``None`` when the string is not a temporal literal
    (the caller then treats the predicate as non-temporal, mirroring
    ``scalar_to_timestamp`` returning ``None``).
    """
    s = text.strip()
    if _DATE_RE.match(s):
        try:
            d = date.fromisoformat(s)
        except ValueError:  # date-shaped but no calendar date ('2024-13-45')
            return None
        dt = datetime(d.year, d.month, d.day, tzinfo=timezone.utc)
        return TsLiteral(datetime_to_us(dt))
    try:
        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return TsLiteral(datetime_to_us(dt))


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def datetime_to_us(dt: datetime) -> int:
    """Datetime → UTC epoch microseconds, in exact integer arithmetic
    (``datetime.timestamp()`` goes through a float and can lose µs)."""
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    td = dt - _EPOCH
    return (td.days * 86_400 + td.seconds) * MICROS_PER_SECOND + td.microseconds


def us_to_datetime(epoch_us: int) -> datetime:
    """Epoch µs → *naive* UTC datetime (what Spark expects when the session
    time zone is pinned to UTC)."""
    return datetime.fromtimestamp(epoch_us / MICROS_PER_SECOND, tz=timezone.utc).replace(
        tzinfo=None
    )


def sec_to_datetime(sec: int) -> datetime:
    return datetime.fromtimestamp(sec, tz=timezone.utc).replace(tzinfo=None)


def secs_to_datetimes(secs: np.ndarray) -> list[datetime]:
    """:func:`sec_to_datetime` over an int64 array, as one vector
    conversion (``datetime64[s]`` → naive ``datetime`` objects)."""
    return secs.astype("datetime64[s]").astype(object).tolist()


def is_second_aligned_us(epoch_us: int) -> bool:
    return epoch_us % MICROS_PER_SECOND == 0
