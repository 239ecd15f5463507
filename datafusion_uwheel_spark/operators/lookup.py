"""Driver-side wheel index: the Spark-native analogue of a µWheel HAW.

The reference builds a Hierarchical Aggregate Wheel per
``(table, column, aggregate, filter)`` and answers arbitrary-range temporal
aggregates at plan time (reference ``datafusion-uwheel/src/lib.rs:1019-1127``,
``wheels.rs:19-76``). Our analogue: a **sparse second-granularity rollup**
collected to the driver as numpy arrays (sorted distinct epoch-seconds plus
per-bucket partial aggregate states), with range queries answered by binary
search + vectorized reduction and ``date_trunc`` group-bys answered by
segmented reduction. Coarser granularities (minute/hour/day/week) never need
separate storage — they are derived views over the second dimension, which
matches the reference's retention-``Keep`` configuration (all dimensions
answerable, ``builder.rs:99-112``) at strictly lower memory cost because we
only store *occupied* buckets.

Scale note (100 TB): the index size is bounded by the number of **distinct
seconds in the time span** (~31.5M/year) × a few ``int64``/``float64`` states,
independent of row count. Only the rollup is ever collected to the driver —
never raw rows (SURVEY.md §7.3.5). For multi-year spans, restrict with
``time_range`` at build (the reference's ``with_time_range``,
``builder.rs:177-191``).

Correctness notes:

* AVG state is a ``(sum, non-null count)`` pair, divided only at answer time —
  never an average of averages (reference ``lib.rs:700-703``).
* **SQL NULL semantics**: every value wheel carries a per-bucket *non-null
  count* (``vcnt_``) alongside COUNT(*). SUM/MIN/MAX skip NULLs (all-NULL
  buckets store monoid identities, never NaN), AVG and the variance family
  divide by the non-null count, and a range whose non-null count is zero
  answers NULL — exactly what delegated ``spark.sql`` would return. The
  reference indexes concrete array values so it never faces this divergence.
* **Integral columns keep int64 states end to end** — SUM/MIN/MAX of a
  BIGINT/INT column answer as exact integers with the delegate path's own
  result type (no silent double rounding past 2^53). ``value_sql_type``
  records the column's SQL type for result literals.
* COUNT is ``int64`` end to end (the reference keeps ``u32`` wheels and
  emits ``i64``, an overflow hazard at >4.29B rows — SURVEY.md §4.3.3).
* Range sums use vectorized slice reduction (numpy pairwise summation), not
  prefix-difference, to avoid catastrophic cancellation against the DuckDB
  oracle; COUNT uses an exact integer prefix array (O(1) lookups, the
  analogue of the reference's prefix wheels, ``lib.rs:1085-1087``).
* State arrays are individually optional (the reference's per-aggregate
  ``UWheelAggregate`` builds, ``index/mod.rs:7-21``): a SUM-only wheel omits
  min/max/sumsq arrays and :meth:`combine_range` simply omits those keys —
  the router delegates aggregates whose state is absent.
* Lookups compute only the states the caller names (``states=``), and
  :meth:`group_by` answers column-wise — ``(bucket_secs, {state: column})``
  — so a query pays for the reductions it reads, never a per-bucket dict of
  every state (the column-at-a-time state operators of *Building Advanced
  SQL Analytics From Low-Level Plan Operators*, SIGMOD 2021).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import numpy as np

from ..functions.timestamps import (
    CALENDAR_GRANULARITIES,
    GRANULARITY_SECONDS,
    MICROS_PER_SECOND,
    bucket_starts,
)

__all__ = ["WheelIndex", "STAR_AGGREGATION_ALIAS", "INTEGRAL_SQL_TYPES", "VARIANCE_KEYS"]

#: Key suffix for unfiltered indices — mirrors ``STAR_AGGREGATION_ALIAS``
#: (reference ``lib.rs:70``).
STAR_AGGREGATION_ALIAS = "*_AGG"

#: SQL types whose wheels keep exact int64 states.
INTEGRAL_SQL_TYPES = frozenset({"BIGINT", "INT", "SMALLINT", "TINYINT"})

#: Monoid-identity sentinels stored in all-NULL buckets (never returned:
#: a zero non-null count answers NULL before these are read).
INT_MIN_IDENTITY = np.iinfo(np.int64).max
INT_MAX_IDENTITY = np.iinfo(np.int64).min


def _variance_states(s: float | None, sq: float | None, n: int) -> dict:
    """Derived VAR/STDDEV from (sum, sumsq, non-null count) monoid states.

    Two-pass formula ``E[x²] − E[x]²`` (clamped at 0 against cancellation);
    SQL semantics: sample variants NULL for n < 2, population variants 0 for
    n = 1. Results are rounded by callers against the oracle (DuckDB's
    streaming algorithm differs in low-order bits)."""
    if n == 0 or s is None or sq is None:
        return {k: None for k in ("var_pop", "var_samp", "stddev_pop", "stddev_samp")}
    mean = s / n
    m2 = max(sq - n * mean * mean, 0.0)  # Σ(x−mean)²
    var_pop = m2 / n
    out = {"var_pop": var_pop, "stddev_pop": var_pop**0.5}
    if n >= 2:
        var_samp = m2 / (n - 1)
        out["var_samp"] = var_samp
        out["stddev_samp"] = var_samp**0.5
    else:
        out["var_samp"] = None
        out["stddev_samp"] = None
    return out


#: The variance family, derived from (sum, sumsq, non-null count).
VARIANCE_KEYS = ("var_pop", "var_samp", "stddev_pop", "stddev_samp")


def carried_states(
    vcnt: bool, sum_: bool, min_: bool, max_: bool, sumsq: bool
) -> frozenset:
    """State keys a wheel can answer given which state arrays it carries:
    ``count`` always, ``count_col`` with NULL tracking, ``sum``/``avg`` with
    the sum state, ``min``/``max`` with theirs, and the raw ``_sumsq`` plus
    the variance family with both sum and sum-of-squares."""
    keys = {"count"}
    if vcnt:
        keys.add("count_col")
    if sum_:
        keys.update(("sum", "avg"))
    if min_:
        keys.add("min")
    if max_:
        keys.add("max")
    if sum_ and sumsq:
        keys.update(("_sumsq", *VARIANCE_KEYS))
    return frozenset(keys)


def wanted_states(states, carried: frozenset) -> frozenset:
    """The requested keys this wheel carries (all carried keys when
    ``states`` is ``None``); requested keys it lacks are simply absent from
    the answer, so callers delegate on ``key not in``."""
    return carried if states is None else carried.intersection(states)


def states_to_columns(starts, states_list, keys) -> tuple[np.ndarray, dict]:
    """``[(start, states), ...]``-shaped per-window answers → the
    column-wise group-by contract ``(bucket_secs, {key: column})``."""
    return (
        np.asarray(starts, dtype=np.int64),
        {k: [st[k] for st in states_list] for k in keys},
    )


@dataclass
class WheelIndex:
    """One wheel: partial aggregates per occupied epoch-second bucket.

    Parameters
    ----------
    table, column:
        Identity; ``column is None`` for the COUNT(*) wheel.
    filter_key:
        Canonical filter string for keyed indices (reference key format
        ``"{table}.{column}.{expr}"``, ``lib.rs:164-173``), else
        :data:`STAR_AGGREGATION_ALIAS`.
    secs:
        Sorted distinct epoch-seconds with ≥1 row (``int64``).
    cnt / sum_ / min_ / max_:
        Per-bucket partial states aligned with ``secs``. Each value-state
        array is individually optional (per-aggregate builds); all are
        ``None`` for the pure COUNT wheel. Arrays are int64 for integral
        columns, float64 otherwise, and **sanitized**: an all-NULL bucket
        stores the monoid identity (sum 0, min/max ±sentinel), never NaN.
    vcnt_:
        Per-bucket COUNT(column) — non-null values. ``None`` on wheels
        persisted before NULL tracking existed (those assume no NULLs).
    value_sql_type:
        SQL type of the indexed column ("DOUBLE", "BIGINT", ...), used to
        emit result literals matching the delegate path's schema.
    min_ts_us / max_ts_us:
        Exact data bounds (epoch µs) — the reference's
        ``min_timestamp_ms``/``max_timestamp_ms`` (``lib.rs:84-87``), used to
        refuse rewrites outside the indexed range.
    """

    table: str
    column: str | None
    filter_key: str
    secs: np.ndarray
    cnt: np.ndarray
    sum_: np.ndarray | None = None
    min_: np.ndarray | None = None
    max_: np.ndarray | None = None
    #: Sum-of-squares state (optional: absent on wheels persisted before it
    #: existed, or excluded by a per-aggregate build) — derives VAR/STDDEV at
    #: lookup. The extension-point analogue of the reference's custom
    #: ``Aggregator`` impls (aggregator/mod.rs).
    sumsq_: np.ndarray | None = None
    vcnt_: np.ndarray | None = None
    value_sql_type: str = "DOUBLE"
    #: At-start sliver states (sparse): per bucket whose start *instant*
    #: holds ≥1 row, the aggregates of exactly those rows. Makes inclusive /
    #: strict boundary queries (BETWEEN / ``<=`` / ``>``) answerable from the
    #: index alone — ``ts <= b`` adds bucket b's at-start sliver, ``ts > a``
    #: subtracts bucket a's (timestamps are µs-discrete so the sliver is an
    #: exact equality set). Sparse: ns-precision data typically has ZERO
    #: bucket-aligned rows, so these cost nothing; second-aligned data pays
    #: at most a second copy of the states. ``None`` = not tracked (legacy) —
    #: the router falls back to a pruned boundary scan.
    at_secs_: np.ndarray | None = None
    at_cnt_: np.ndarray | None = None
    at_vcnt_: np.ndarray | None = None
    at_sum_: np.ndarray | None = None
    at_min_: np.ndarray | None = None
    at_max_: np.ndarray | None = None
    at_sumsq_: np.ndarray | None = None
    min_ts_us: int = 0
    max_ts_us: int = -1
    #: True when built over the *whole* table (no ``time_range`` restriction):
    #: the index then proves rows outside ``[min_ts, max_ts]`` don't exist, so
    #: ANY exact aligned range is answerable (0/NULL beyond the span). The
    #: reference always refuses such ranges (``lib.rs:1498-1518``) because a
    #: HAW can't distinguish "no data" from "not indexed" — our rollup can.
    #: ``time_range``-restricted builds keep the strict reference gate.
    complete: bool = False
    #: Width of one bucket in seconds (1 = the reference's finest HAW
    #: dimension). Coarser bases (60 = minute, 3600 = hour) shrink the
    #: driver-side index by the same factor — the scale lever for multi-year
    #: tables; the router only routes ranges aligned to this width.
    bucket_seconds: int = 1
    #: Tiered retention (µWheel's hierarchical aggregate wheel tiering,
    #: SURVEY §1.3 / ``index/mod.rs`` HawConf): ``[(end_sec, width), ...]``
    #: prefix spans, ascending ends with strictly DECREASING widths — all
    #: buckets before ``end_sec`` use that coarser ``width``; buckets past
    #: the last tier use ``bucket_seconds``. ``None``/empty = uniform.
    #: Produced by :meth:`compact_before`; widths form a divisibility
    #: ladder, so range sums over the flat arrays stay exact — only the
    #: ALIGNMENT gates consult the tier map.
    tiers: list | None = None
    _pcnt_c: np.ndarray | None = field(init=False, repr=False, default=None)
    _pvcnt_c: np.ndarray | None = field(init=False, repr=False, default=None)
    _landmark: dict[str, Any] | None = field(init=False, repr=False, default=None)

    def __post_init__(self) -> None:
        self.secs = np.asarray(self.secs, dtype=np.int64)
        self.cnt = np.asarray(self.cnt, dtype=np.int64)
        if self.vcnt_ is not None:
            self.vcnt_ = np.asarray(self.vcnt_, dtype=np.int64)

    @property
    def _pcnt(self) -> np.ndarray:
        """Exact O(1) COUNT ranges — prefix wheel analogue
        (lib.rs:1085-1087). Built LAZILY on the first count ask (r14):
        the build path's driver work is then pure Arrow→numpy landing
        with zero derived-state passes — the cumsum bursts that rode the
        build's mirror phase (and that the box amplified 0.06 s → 15 s,
        the r13 verdict's index_build_sf10 swing) move to the one ask
        that needs them, and wheels never asked a COUNT never pay."""
        if self._pcnt_c is None:
            self._pcnt_c = np.concatenate([[0], np.cumsum(self.cnt)])
        return self._pcnt_c

    @property
    def _pvcnt(self) -> np.ndarray | None:
        """COUNT(col) prefix (NULL-aware sibling of :attr:`_pcnt`),
        ``None`` on legacy wheels without NULL tracking. Lazy like
        :attr:`_pcnt`."""
        if self.vcnt_ is None:
            return None
        if self._pvcnt_c is None:
            self._pvcnt_c = np.concatenate([[0], np.cumsum(self.vcnt_)])
        return self._pvcnt_c

    def _invalidate_prefixes(self) -> None:
        """Drop cached prefix arrays after a state mutation (compaction,
        merge) — they rebuild lazily on the next count ask."""
        self._pcnt_c = None
        self._pvcnt_c = None
        if self.vcnt_ is not None:
            self.vcnt_ = np.asarray(self.vcnt_, dtype=np.int64)

    # ------------------------------------------------------------------ keys
    @property
    def key(self) -> str:
        col = self.column if self.column is not None else "*"
        return f"{self.table}.{col}.{self.filter_key}"

    @property
    def empty(self) -> bool:
        return self.secs.size == 0

    @property
    def is_integral(self) -> bool:
        return self.value_sql_type in INTEGRAL_SQL_TYPES

    def _py(self, v) -> int | float:
        return int(v) if self.is_integral else float(v)

    # ------------------------------------------------------ tiered widths
    @property
    def coarsest_width(self) -> int:
        """Widest bucket anywhere in the wheel — the alignment a consumer
        that cannot consult the tier map (e.g. the JVM shim's single
        ``bucket_sec`` conf) must use to stay sound."""
        if not self.tiers:
            return self.bucket_seconds
        return max(self.bucket_seconds, max(w for _, w in self.tiers))

    def width_at(self, sec: int) -> int:
        """Bucket width in force at ``sec`` (tiers are prefix spans)."""
        for end, w in self.tiers or ():
            if sec < end:
                return w
        return self.bucket_seconds

    def _max_width_in(self, start_sec: int, end_sec: int) -> int:
        """Coarsest bucket width intersecting ``[start, end)`` — the width
        a grouping granularity must tile."""
        w = self.bucket_seconds
        for tend, tw in self.tiers or ():
            if start_sec < tend:
                w = max(w, tw)
        return w

    # ------------------------------------------------------- range validity
    @property
    def low_sec(self) -> int:
        """Watermark start = min timestamp floored to the bucket width
        (lib.rs:976,1106; seconds in the reference)."""
        s = self.min_ts_us // MICROS_PER_SECOND
        return s - (s % self.width_at(s))

    @property
    def high_sec_exclusive(self) -> int:
        """One bucket past the last data point — the reference advances the
        wheel to ``max + 1s`` so the final second stays queryable
        (``advance_to(end+1000)``, ``lib.rs:1080,1120``)."""
        s = self.max_ts_us // MICROS_PER_SECOND
        w = self.width_at(s)
        return s - (s % w) + w

    def covers(self, start_sec: int, end_sec: int) -> bool:
        """Whether the wheel can answer ``[start_sec, end_sec)`` — outside
        ranges must fall through, mirroring ``combine_range_and_lower``
        returning ``None`` (``lib.rs:663-688``; test ``lib.rs:1498-1518``).
        Ranges that would split a bucket are unanswerable (a minute wheel
        cannot answer at second precision) — each bound must align to the
        bucket width in force at ITS tier, so queries into a compacted span
        answer at the coarser alignment and finer asks fall through."""
        if start_sec > end_sec:
            return False
        if start_sec % self.width_at(start_sec) or end_sec % self.width_at(end_sec):
            return False
        if self.complete:
            return True
        if self.empty:
            return False
        return start_sec >= self.low_sec and end_sec <= self.high_sec_exclusive

    # --------------------------------------------------- tiered compaction
    def check_compact(self, cutoff_sec: int, width: int) -> None:
        """Validate ``(cutoff, width)`` against this wheel's ladder WITHOUT
        mutating anything — ``engine.compact_indexes`` pre-validates every
        wheel with this so a mixed-backend compaction is all-or-nothing
        (no wheel left compacted when a later one would reject)."""
        self._compact_plan(cutoff_sec, width)

    def _compact_plan(
        self, cutoff_sec: int, width: int
    ) -> tuple[list, list]:
        """The (keep, roll) tier split for a compaction, raising on every
        invalid ladder shape; shared by :meth:`check_compact` and
        :meth:`compact_before`."""
        if width <= 0 or width % self.bucket_seconds:
            raise ValueError(
                f"compaction width {width} must be a positive multiple of "
                f"the base bucket width {self.bucket_seconds}"
            )
        if cutoff_sec % width:
            raise ValueError(
                f"cutoff {cutoff_sec} must align to the compaction width {width}"
            )
        tiers = list(self.tiers or [])
        keep = [(e, w) for e, w in tiers if w >= width]
        roll = [(e, w) for e, w in tiers if w < width]
        for e, w in keep:
            if w % width:
                raise ValueError(
                    f"existing tier width {w} and new width {width} must nest"
                )
            if e > cutoff_sec:
                raise ValueError(
                    "cannot re-compact a coarser tier to a finer width "
                    f"(tier ends {e}, cutoff {cutoff_sec})"
                )
        for e, w in roll:
            if width % w:
                raise ValueError(
                    f"existing tier width {w} and new width {width} must nest"
                )
        return keep, roll

    def compact_before(self, cutoff_sec: int, width: int) -> int:
        """Roll buckets older than ``cutoff_sec`` into ``width``-second
        buckets — µWheel's HAW tiering (SURVEY §1.3: old fine slots drain
        into coarser wheels), the retention lever that bounds driver index
        memory for long-running streams. Returns buckets reclaimed.

        States are monoids, so the re-bucketed aggregates are exactly what
        a fresh coarse build over the same rows produces (identity-filled
        all-NULL buckets merge to identities). At-start sliver entries are
        KEPT: they record rows at exact instants — facts compaction cannot
        invalidate — and remain consultable at coarse-aligned boundaries.
        Queries over the compacted span answer at the coarser alignment;
        finer asks fall through via :meth:`covers` (exactness preserved).

        Widths must nest (divisibility ladder): ``bucket_seconds`` divides
        ``width``; previously-compacted coarser tiers are left alone (their
        span must already be older), finer ones inside the cutoff are
        re-rolled. ``cutoff_sec`` must be ``width``-aligned. Repeated calls
        with growing cutoffs implement the second→minute→hour→day ladder.

        At-start sliver entries at instants a compacted tier makes
        UNREACHABLE are pruned: inside a tier, every at-start consultation
        point is tier-aligned (``covers``/``combine_range`` gates delegate
        finer asks to a scan), so entries at non-aligned instants can never
        be read again — keeping them would grow at-start memory linearly
        with the timeline even though the buckets are bounded (the Spark
        backend's ``start_hit`` compaction already applies the same rule).
        The pruned layout matches a fresh coarse build's exactly."""
        keep, roll = self._compact_plan(cutoff_sec, width)
        # Buckets to roll: the contiguous span after the last kept (coarser)
        # tier, before the cutoff — tiers are prefixes, so this is a slice.
        lo = 0
        last_keep = max((e for e, _ in keep), default=None)
        if last_keep is not None:
            lo = int(np.searchsorted(self.secs, last_keep, side="left"))
        hi = int(np.searchsorted(self.secs, cutoff_sec, side="left"))
        new_tiers = [
            (e, w)
            for e, w in keep + [(cutoff_sec, width)]
            + [(e, w) for e, w in roll if e > cutoff_sec]
            if w != self.bucket_seconds
        ]
        widths = [w for _, w in new_tiers]
        ends = [e for e, _ in new_tiers]
        # prefix spans: ends ascending, widths strictly decreasing
        assert ends == sorted(ends) and widths == sorted(widths, reverse=True), (
            new_tiers
        )
        self.tiers = new_tiers
        self._prune_at_start()
        if hi <= lo:
            return 0
        seg = self.secs[lo:hi]
        ids = seg - (seg % width)
        breaks = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
        reclaimed = int((hi - lo) - breaks.size)
        if reclaimed == 0:
            return 0

        def splice(arr, reducer):
            if arr is None:
                return None
            mid = reducer.reduceat(arr[lo:hi], breaks)
            return np.concatenate([arr[:lo], mid, arr[hi:]])

        self.secs = np.concatenate([self.secs[:lo], ids[breaks], self.secs[hi:]])
        self.cnt = splice(self.cnt, np.add)
        if self.vcnt_ is not None:
            self.vcnt_ = splice(self.vcnt_, np.add)
        if self.sum_ is not None:
            self.sum_ = splice(self.sum_, np.add)
        if self.sumsq_ is not None:
            self.sumsq_ = splice(self.sumsq_, np.add)
        if self.min_ is not None:
            self.min_ = splice(self.min_, np.minimum)
        if self.max_ is not None:
            self.max_ = splice(self.max_, np.maximum)
        self._invalidate_prefixes()
        self._landmark = None
        return reclaimed

    def _prune_at_start(self) -> None:
        """Drop at-start sliver entries at instants the tier map makes
        unreachable (non-tier-aligned instants inside a compacted span) —
        the retention ladder applied to the at-start arrays, without which
        they grow linearly with distinct instants forever. Entries in the
        fine suffix and at tier bucket starts are untouched; the result is
        exactly the at-start layout a fresh coarse build produces."""
        if self.at_secs_ is None or not self.tiers:
            return
        secs = self.at_secs_
        keep = np.ones(secs.size, dtype=bool)
        prev_end = 0
        for end, w in self.tiers:
            i = int(np.searchsorted(secs, prev_end, side="left"))
            j = int(np.searchsorted(secs, end, side="left"))
            if i < j:
                keep[i:j] &= (secs[i:j] % w) == 0
            prev_end = end
        if bool(keep.all()):
            return
        for name in (
            "at_secs_", "at_cnt_", "at_vcnt_",
            "at_sum_", "at_sumsq_", "at_min_", "at_max_",
        ):
            arr = getattr(self, name)
            if arr is not None:
                setattr(self, name, arr[keep])

    # ------------------------------------------------------------- queries
    def _slice(self, start_sec: int, end_sec: int) -> tuple[int, int]:
        i = int(np.searchsorted(self.secs, start_sec, side="left"))
        j = int(np.searchsorted(self.secs, end_sec, side="left"))
        return i, j

    def count_range(self, start_sec: int, end_sec: int) -> int | None:
        """COUNT over ``[start, end)`` — O(log n) via the integer prefix array."""
        if not self.covers(start_sec, end_sec):
            return None
        i, j = self._slice(start_sec, end_sec)
        return int(self._pcnt[j] - self._pcnt[i])

    @property
    def tracks_at_start(self) -> bool:
        return self.at_secs_ is not None

    def at_start(self, sec: int) -> dict[str, Any] | None:
        """Monoid states of the rows whose timestamp equals the start instant
        of the bucket beginning at ``sec``; zero-states when the instant holds
        no rows, ``None`` when at-start tracking is absent (legacy wheels).

        Keys: ``count``, ``vcnt``, plus ``sum``/``min``/``max``/``sumsq`` for
        the states this wheel carries (``min``/``max`` are None when the
        sliver has no non-NULL value; ``sum``/``sumsq`` are additive zeros)."""
        if self.at_secs_ is None:
            return None
        out: dict[str, Any] = {"count": 0, "vcnt": 0}
        if self.sum_ is not None:
            out["sum"] = 0
        if self.sumsq_ is not None:
            out["sumsq"] = 0.0
        if self.min_ is not None:
            out["min"] = None
        if self.max_ is not None:
            out["max"] = None
        i = int(np.searchsorted(self.at_secs_, sec))
        if i >= self.at_secs_.size or int(self.at_secs_[i]) != sec:
            return out
        n = int(self.at_cnt_[i])
        vn = int(self.at_vcnt_[i]) if self.at_vcnt_ is not None else n
        out["count"] = n
        out["vcnt"] = vn
        if vn:
            if self.at_sum_ is not None:
                out["sum"] = self._py(self.at_sum_[i])
            if self.at_sumsq_ is not None:
                out["sumsq"] = float(self.at_sumsq_[i])
            if self.at_min_ is not None:
                out["min"] = self._py(self.at_min_[i])
            if self.at_max_ is not None:
                out["max"] = self._py(self.at_max_[i])
        return out

    @property
    def state_keys(self) -> frozenset:
        """Every state key this wheel can answer (:func:`carried_states`)."""
        return carried_states(
            self.vcnt_ is not None,
            self.sum_ is not None,
            self.min_ is not None,
            self.max_ is not None,
            self.sumsq_ is not None,
        )

    def _combine_slice(self, i: int, j: int, states=None) -> dict[str, Any]:
        """Combine the requested states (all carried ones when ``states`` is
        ``None``) over the bucket slice ``[i, j)``.

        SQL semantics: COUNT(*) counts rows, COUNT(col) counts non-NULL
        values, value aggregates skip NULLs and answer NULL when no non-NULL
        value exists. Keys are emitted only for states this wheel carries —
        the router delegates when a needed key is absent."""
        keys = wanted_states(states, self.state_keys)
        out: dict[str, Any] = {}
        if "count" in keys or self._pvcnt is None:
            n = int(self._pcnt[j] - self._pcnt[i])
            if "count" in keys:
                out["count"] = n
        if self._pvcnt is not None:
            vn = int(self._pvcnt[j] - self._pvcnt[i])
            if "count_col" in keys:
                out["count_col"] = vn
        else:
            vn = n  # legacy wheel: no NULL tracking — assume no NULLs
        value_keys = keys - {"count", "count_col"}
        if not value_keys:
            return out
        if vn == 0:
            for k in value_keys:
                # _sumsq is the raw monoid state for hybrid combining
                out[k] = 0.0 if k == "_sumsq" else None
            return out
        s = None
        if value_keys - {"min", "max", "_sumsq"}:
            s = self.sum_[i:j].sum()
        if "sum" in keys:
            out["sum"] = self._py(s)
        if "avg" in keys:
            out["avg"] = float(s) / vn
        if "min" in keys:
            out["min"] = self._py(np.min(self.min_[i:j]))
        if "max" in keys:
            out["max"] = self._py(np.max(self.max_[i:j]))
        var_keys = value_keys.intersection(VARIANCE_KEYS)
        if "_sumsq" in keys or var_keys:
            sq = float(np.sum(self.sumsq_[i:j]))
            if "_sumsq" in keys:
                out["_sumsq"] = sq
            if var_keys:
                var = _variance_states(float(s), sq, vn)
                for k in var_keys:
                    out[k] = var[k]
        return out

    def combine_range(
        self, start_sec: int, end_sec: int, states=None
    ) -> dict[str, Any] | None:
        """Aggregate states over ``[start, end)`` — only the keys named in
        ``states`` (every carried key when ``None``).

        Keys: ``count``, ``count_col``, ``sum``, ``avg``, ``min``, ``max``,
        the raw ``_sumsq`` and the variance family, each present only when
        requested AND carried by the wheel; SQL semantics — no non-NULL
        input ⇒ NULL aggregates, COUNT ⇒ 0. Returns ``None`` when the range
        is not covered (rewrite must fall through)."""
        if not self.covers(start_sec, end_sec):
            return None
        i, j = self._slice(start_sec, end_sec)
        return self._combine_slice(i, j, states)

    def landmark(self) -> dict[str, Any]:
        """Aggregate over *all* indexed data — the reference's ``landmark()``
        path (``lib.rs:690-714``)."""
        if self._landmark is None:
            self._landmark = self._combine_slice(0, int(self.secs.size))
        return self._landmark

    def group_by(
        self, start_sec: int, end_sec: int, granularity, states=None
    ) -> tuple[np.ndarray, dict[str, list]] | None:
        """``GROUP BY date_trunc(granularity, ts)`` over ``[start, end)`` —
        or, with an **int** granularity, ``GROUP BY window(ts, '<w sec>')``
        at any epoch-aligned tumbling width the wheel buckets divide
        (beyond the reference's five named granularities, lib.rs:348-358).

        Reference: per-granularity ``wheel.group_by(range, duration)``
        (``lib.rs:396-482``). Returns ``(bucket_secs, {state: column})``:
        the ascending starts of the **occupied** buckets only (SQL group-by
        emits no empty groups) as an int64 array, and one Python-valued
        column per requested state (same keys, values and types as
        :meth:`combine_range` over each bucket). Segmented numpy reduction
        per requested state — no per-bucket Python loop.
        """
        maxw = self._max_width_in(start_sec, end_sec)
        if isinstance(granularity, int):
            if granularity <= 0 or granularity % maxw:
                return None  # coarse buckets can't be split finer
        elif granularity in CALENDAR_GRANULARITIES:
            # month/year boundaries are day-aligned — any bucket width that
            # divides a day nests exactly (beyond the reference, which
            # refuses calendar granularities outright, lib.rs:348-358).
            if 86_400 % maxw:
                return None
        elif granularity in GRANULARITY_SECONDS:
            if GRANULARITY_SECONDS[granularity] % maxw:
                return None  # coarse buckets can't be split finer
        else:
            return None
        if not self.covers(start_sec, end_sec):
            return None
        keys = wanted_states(states, self.state_keys)
        i, j = self._slice(start_sec, end_sec)
        if i == j:
            return np.empty(0, dtype=np.int64), {k: [] for k in keys}
        bucket_ids = bucket_starts(self.secs[i:j], granularity)
        # Boundaries where the bucket id changes → segment starts.
        starts = np.empty(bucket_ids.size, dtype=bool)
        starts[0] = True
        np.not_equal(bucket_ids[1:], bucket_ids[:-1], out=starts[1:])
        seg = starts.nonzero()[0]
        cols: dict[str, list] = {}
        value_keys = keys - {"count", "count_col"}
        counts = None
        if "count" in keys or self.vcnt_ is None:
            counts = np.add.reduceat(self.cnt[i:j], seg)
            if "count" in keys:
                cols["count"] = counts.tolist()
        if "count_col" in keys or value_keys:
            vns = (
                np.add.reduceat(self.vcnt_[i:j], seg)
                if self.vcnt_ is not None
                else counts
            )
            if "count_col" in keys:
                cols["count_col"] = vns.tolist()
        if not value_keys:
            return bucket_ids[seg], cols
        nulls = (vns == 0).nonzero()[0].tolist()  # all-NULL buckets
        vdtype = np.int64 if self.is_integral else np.float64

        def column(arr, dtype=vdtype, fill=None) -> list:
            out = arr.astype(dtype, copy=False).tolist()
            for k in nulls:
                out[k] = fill
            return out

        sums = sqs = None
        if value_keys - {"min", "max", "_sumsq"}:
            sums = np.add.reduceat(self.sum_[i:j], seg)
        if "sum" in keys:
            cols["sum"] = column(sums)
        if "avg" in keys:
            with np.errstate(divide="ignore", invalid="ignore"):
                cols["avg"] = column(sums.astype(np.float64) / vns, np.float64)
        if "min" in keys:
            cols["min"] = column(np.minimum.reduceat(self.min_[i:j], seg))
        if "max" in keys:
            cols["max"] = column(np.maximum.reduceat(self.max_[i:j], seg))
        var_keys = [k for k in VARIANCE_KEYS if k in keys]
        if "_sumsq" in keys or var_keys:
            sqs = np.add.reduceat(self.sumsq_[i:j], seg)
            if "_sumsq" in keys:
                # raw monoid state alongside the derived values: cells from
                # several disjoint intervals / partition keys re-combine via
                # _combine_interval_parts, which needs Σx² (the derived
                # variance values are NOT additive)
                cols["_sumsq"] = column(sqs, np.float64, 0.0)
        if var_keys:
            var = [
                _variance_states(s, sq, n) if n else None
                for s, sq, n in zip(
                    sums.astype(np.float64).tolist(),
                    sqs.astype(np.float64).tolist(),
                    vns.tolist(),
                )
            ]
            for k in var_keys:
                cols[k] = [v[k] if v is not None else None for v in var]
        return bucket_ids[seg], cols

    def hop_group_by(
        self, start_sec: int, end_sec: int, width_sec: int, slide_sec: int,
        states=None,
    ) -> tuple[np.ndarray, dict[str, list]] | None:
        """``GROUP BY window(ts, width, slide)`` — hopping windows (Spark's
        sliding rollup; ``F.window`` with a slide). Window starts are the
        epoch-aligned multiples of ``slide`` (Spark ``startTime=0``); each
        window reports its *full* ``[W, W+width)`` bounds but aggregates only
        the rows inside ``[start, end)``, exactly what Spark computes over a
        WHERE-bounded scan (Spark requires ``slide <= width``; the parser
        delegates gapped shapes so Spark raises its own analysis error).
        Occupied windows only, ascending, in :meth:`group_by`'s column-wise
        shape. Returns ``None`` when the wheel's buckets can't tile the
        window grid.

        Beyond the reference (tumbling ``date_trunc`` only, lib.rs:348-358)
        — and beyond our own R4 generalization: overlap means this is NOT a
        partition of the range, so it reuses :meth:`_combine_slice` per
        window instead of one segmented reduction; cost is
        O(windows · width/bucket) driver-side numpy, no Spark job.
        """
        if width_sec <= 0 or slide_sec <= 0:
            return None
        maxw = self._max_width_in(start_sec, end_sec)
        if width_sec % maxw or slide_sec % maxw:
            return None
        if not self.covers(start_sec, end_sec):
            return None
        starts, cells = [], []
        # Smallest window start strictly overlapping [start, end).
        wmin = ((start_sec - width_sec) // slide_sec + 1) * slide_sec
        for wstart in range(wmin, end_sec, slide_sec):
            i, j = self._slice(max(wstart, start_sec), min(wstart + width_sec, end_sec))
            if i == j:
                continue
            starts.append(wstart)
            cells.append(self._combine_slice(i, j, states))
        return states_to_columns(
            starts, cells, wanted_states(states, self.state_keys)
        )

    # ----------------------------------------------------------- min/max
    def min_max_range(self, start_sec: int, end_sec: int):
        """(min, max) of the indexed column over the range, for scan pruning
        (reference ``maybe_min_max_filter``, ``lib.rs:621-649``). ``None``
        when uncovered, when the range holds no rows, or when every value in
        the range is NULL (nothing to bound) — note the reference's
        ``is_empty_range`` treats a zero-row range as prunable via the COUNT
        path, not this one."""
        if self.min_ is None or self.max_ is None:
            return None
        if not self.covers(start_sec, end_sec):
            return None
        i, j = self._slice(start_sec, end_sec)
        if i == j:
            return None
        if self._pvcnt is not None and int(self._pvcnt[j] - self._pvcnt[i]) == 0:
            return None
        return self._py(np.min(self.min_[i:j])), self._py(np.max(self.max_[i:j]))

    # -------------------------------------------------------- maintenance
    def merge_delta(
        self,
        secs: np.ndarray,
        cnt: np.ndarray,
        sum_: np.ndarray | None = None,
        min_: np.ndarray | None = None,
        max_: np.ndarray | None = None,
        sumsq_: np.ndarray | None = None,
        vcnt_: np.ndarray | None = None,
        min_ts_us: int | None = None,
        max_ts_us: int | None = None,
        at_states: dict[str, np.ndarray] | None = None,
    ) -> None:
        """Merge a per-second partial-aggregate delta into the wheel.

        The streaming-maintenance primitive (the reference's µWheel is
        streaming-native but the crate only ``advance_to``'s once at build —
        SURVEY.md §M7 upgrades that with Structured Streaming). All states
        are commutative monoids (count/sum add, min/max combine), so merges
        are order-independent and late data needs no special casing.

        Incoming value arrays must be **sanitized** the same way builds are
        (all-NULL buckets as monoid identities, never NaN) — the maintenance
        module's Arrow path guarantees this.
        """
        secs = np.asarray(secs, dtype=np.int64)
        if secs.size == 0:
            return
        order = np.argsort(secs)
        secs = secs[order]
        cnt = np.asarray(cnt, dtype=np.int64)[order]
        merged_secs = np.union1d(self.secs, secs)
        old_pos = np.searchsorted(merged_secs, self.secs)
        new_pos = np.searchsorted(merged_secs, secs)

        def scatter(old, new, fill, combine):
            out = np.full(
                merged_secs.shape, fill, dtype=old.dtype if old is not None else new.dtype
            )
            if old is not None and old.size:
                out[old_pos] = old
            if combine == "add":
                np.add.at(out, new_pos, new)
            elif combine == "min":
                np.minimum.at(out, new_pos, new)
            else:
                np.maximum.at(out, new_pos, new)
            return out

        new_cnt = scatter(self.cnt, cnt, 0, "add")
        if self.vcnt_ is not None:
            # A delta without NULL tracking assumes no NULLs (vcnt = cnt).
            vc = cnt if vcnt_ is None else np.asarray(vcnt_, dtype=np.int64)[order]
            self.vcnt_ = scatter(self.vcnt_, vc, 0, "add")
        vdtype = np.int64 if self.is_integral else np.float64
        min_fill = INT_MIN_IDENTITY if self.is_integral else np.inf
        max_fill = INT_MAX_IDENTITY if self.is_integral else -np.inf
        # A delta that omits a state the wheel carries DROPS that state
        # (queries needing it delegate) — never skip the merge and leave the
        # old array misaligned with the widened secs axis, and never raise
        # mid-merge: silent corruption and partial merges are both worse
        # than honest delegation.
        if self.sum_ is not None:
            if sum_ is not None:
                s = np.asarray(sum_, dtype=vdtype)[order]
                self.sum_ = scatter(self.sum_, s, vdtype(0), "add")
            else:
                self.sum_ = None
        if self.min_ is not None:
            if min_ is not None:
                mn = np.asarray(min_, dtype=vdtype)[order]
                self.min_ = scatter(self.min_, mn, min_fill, "min")
            else:
                self.min_ = None
        if self.max_ is not None:
            if max_ is not None:
                mx = np.asarray(max_, dtype=vdtype)[order]
                self.max_ = scatter(self.max_, mx, max_fill, "max")
            else:
                self.max_ = None
        if self.sumsq_ is not None:
            if sumsq_ is not None:
                sq = np.asarray(sumsq_, dtype=np.float64)[order]
                self.sumsq_ = scatter(self.sumsq_, sq, 0.0, "add")
            else:
                self.sumsq_ = None  # state lost — stop deriving variance
        was_empty = self.empty
        self.secs = merged_secs
        self.cnt = new_cnt
        if min_ts_us is not None:
            self.min_ts_us = min_ts_us if was_empty else min(self.min_ts_us, min_ts_us)
        if max_ts_us is not None:
            self.max_ts_us = max_ts_us if was_empty else max(self.max_ts_us, max_ts_us)
        self._merge_at_states(secs, order, at_states)
        # Invalidate derived structures.
        self._invalidate_prefixes()
        self._landmark = None

    def _merge_at_states(self, delta_secs, order, at_states) -> None:
        """Merge at-start sliver deltas (keys ``cnt``/``vcnt``/``sum``/``min``/
        ``max``/``sumsq``, dense per delta bucket). A delta without them
        drops tracking — a boundary query then falls back to the scan rather
        than answering from stale sliver states."""
        if self.at_secs_ is None:
            return
        # Every tracked at-state must be present in the delta BEFORE any
        # array is touched — discovering a missing key mid-merge (e.g. 'sum'
        # absent after at_cnt_ was already widened) would leave the sliver
        # states partially merged. Missing any ⇒ drop tracking wholesale;
        # boundary queries then fall back to the scan.
        tracked = [("sum", self.at_sum_), ("min", self.at_min_), ("max", self.at_max_), ("sumsq", self.at_sumsq_)]
        incomplete = at_states is None or at_states.get("cnt") is None or any(
            arr is not None and at_states.get(key) is None for key, arr in tracked
        )
        if incomplete:
            self.at_secs_ = self.at_cnt_ = self.at_vcnt_ = None
            self.at_sum_ = self.at_min_ = self.at_max_ = self.at_sumsq_ = None
            return
        d_cnt = np.asarray(at_states["cnt"], dtype=np.int64)[order]
        mask = d_cnt > 0
        if not mask.any():
            return
        d_secs = delta_secs[mask]
        merged = np.union1d(self.at_secs_, d_secs)
        old_pos = np.searchsorted(merged, self.at_secs_)
        new_pos = np.searchsorted(merged, d_secs)

        def scat(old, new, fill, combine, dtype):
            out = np.full(merged.shape, fill, dtype=dtype)
            if old is not None and old.size:
                out[old_pos] = old
            if combine == "add":
                np.add.at(out, new_pos, new)
            elif combine == "min":
                np.minimum.at(out, new_pos, new)
            else:
                np.maximum.at(out, new_pos, new)
            return out

        vdtype = np.int64 if self.is_integral else np.float64
        min_fill = INT_MIN_IDENTITY if self.is_integral else np.inf
        max_fill = INT_MAX_IDENTITY if self.is_integral else -np.inf

        def dget(key, dtype):
            a = at_states.get(key)
            return None if a is None else np.asarray(a, dtype=dtype)[order][mask]

        self.at_cnt_ = scat(self.at_cnt_, d_cnt[mask], 0, "add", np.int64)
        if self.at_vcnt_ is not None:
            dv = dget("vcnt", np.int64)
            self.at_vcnt_ = scat(self.at_vcnt_, dv if dv is not None else d_cnt[mask], 0, "add", np.int64)
        if self.at_sum_ is not None:
            self.at_sum_ = scat(self.at_sum_, dget("sum", vdtype), vdtype(0), "add", vdtype)
        if self.at_min_ is not None:
            self.at_min_ = scat(self.at_min_, dget("min", vdtype), min_fill, "min", vdtype)
        if self.at_max_ is not None:
            self.at_max_ = scat(self.at_max_, dget("max", vdtype), max_fill, "max", vdtype)
        if self.at_sumsq_ is not None:
            self.at_sumsq_ = scat(self.at_sumsq_, dget("sumsq", np.float64), 0.0, "add", np.float64)
        self.at_secs_ = merged

    # ------------------------------------------------------- introspection
    def size_bytes(self) -> int:
        """Analogue of ``BuiltInWheels::size_bytes`` (``wheels.rs:53-75``)."""
        total = self.secs.nbytes + self.cnt.nbytes
        for p in (self._pcnt_c, self._pvcnt_c):
            if p is not None:  # lazy prefixes count only once built (r14)
                total += p.nbytes
        for a in (
            self.sum_, self.min_, self.max_, self.sumsq_, self.vcnt_,
            self.at_secs_, self.at_cnt_, self.at_vcnt_, self.at_sum_,
            self.at_min_, self.at_max_, self.at_sumsq_,
        ):
            if a is not None:
                total += a.nbytes
        return total
