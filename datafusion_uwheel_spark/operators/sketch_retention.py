"""Tiered HAW retention for the sketch rollups (HLL / KLL / theta).

The wheels gained a retention ladder (``lookup.py`` ``compact_before``,
``rollup_table.py`` for the Spark backend) so no index grows linearly with
timeline span under streaming maintenance — but the sketch rollup tables
(one sketch frame row per bucket, persisted sidecars included) kept
growing O(span / bucket_seconds) forever. Sketches are **union monoids**
(HLL union, KLL merge, theta union are all exact sketch algebra), so the
wheels' ladder applies verbatim: regroup fine buckets older than a cutoff
under a coarser width with one re-aggregation job over the cached rollup,
and the compacted table is indistinguishable from a fresh coarse build
over the same rows — identical estimates for every coarse-aligned ask,
the same error bounds.

Reference model: µWheel's hierarchical wheel tiering (SURVEY §1.3,
``index/mod.rs:168-181`` HawConf — old fine slots drain into coarser
wheels). The mixin mirrors the Spark-backend wheel's ladder discipline
(``rollup_table.py``): a single prefix tier ``[(end_sec, width)]``, widths
must nest, cutoffs only advance — both inherit the tier-width helpers and
that check from ``lookup.PrefixTiers``.

Gates honored after compaction:

* range filters widen their edge-inclusion slop to the per-row bucket
  width (a coarse bucket spanning the range start must still be included
  whole — superset semantics preserved);
* group-by style asks (``approx_distinct_by`` / ``approx_quantile_by`` /
  ``retention_by``) require the granularity to be tiled by the coarsest
  stored width — coarse buckets cannot be split finer, exactly the wheel
  ``group_by`` discipline (raise, never a silently wrong distribution);
* ``merge_batch`` buckets late rows landing in a compacted span at the
  tier width, keeping row counts bounded and the layout identical to a
  fresh coarse build.

The mixin also owns the lifecycle of the three DataSketches families
(HLL :mod:`.distinct`, KLL :mod:`.quantiles`, theta :mod:`.theta`), written
once: the ctor, ``merge_batch``, ``save`` / :func:`load_rollup`,
``unpersist`` and the range filter. A family declares only what differs —
its state column (``_STATE``), its per-bucket sketch aggregate
(``_sketch_agg``), its union aggregate (``_union_agg_exprs``), its sidecar
file (``_SIDECAR``) and its ctor config (``_CONFIG``). The one builder is
:func:`.multibuild.build_sketch_rollups`. The frequency family
(:mod:`.frequency`) inherits the ladder and the direct-ask machinery but
keeps its own merge and persistence: truncated counters are not a union
monoid.

Direct (zero-job) asks read a second, ask-side ladder: the driver mirror
of the raw sketch rows, and the levels pre-merged above it — per UTC day
(per (key, day) on keyed rollups), then per ask granularity (a week or
month rung) or per key (each key's full-span total). ONE pre-merge step
(:meth:`SketchRetention._premerge`) builds every merged level from the
level below it with one ``*MergeGrouped`` call into the shim, or from one
Spark job when the raw mirror is over its caps; ONE framer
(:meth:`SketchRetention._frame`) slices whichever level an ask picks —
the raw level by the width-aware range rule, a merged level exactly —
sums the raw counts per output cell and packs the frames. The four entry
points (scalar, series, per-key and theta's per-key range pair) only
pick the level: rung before day level, day level before raw.
"""

from __future__ import annotations

import json
import logging
import os
import re
from itertools import repeat
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .lookup import PrefixTiers
from .rollups import time_sec_col

__all__ = ["SketchRetention", "load_rollup"]

log = logging.getLogger(__name__)

#: Cached-rollup partition count of every sketch and frequency rollup —
#: small enough that probes run at the task-launch floor (the
#: shuffle-partition default made every estimate schedule ~33 tasks),
#: large enough to parallelize a multi-year rollup.
_CACHE_PARTITIONS = 4

#: Fixed date_trunc levels in seconds; calendar levels (week and up) have
#: day-aligned boundaries, so day-nesting widths tile them.
_FIXED_GRAN_SECS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}

#: memo-miss sentinel — memoized answers may legitimately be None/0/b""
_MEMO_MISS = object()

#: The (key, UTC day) cell of the keyed day level (see the ladder below).
_KEY_DAY = "key+day"


class Level(NamedTuple):
    """One level of the sketch ask ladder: rows sorted by sec (by key,
    then sec, on keyed merged levels)."""

    secs: Any  # int64 ndarray: bucket, cell or (key totals) 0 seconds
    keys: list | None  # per-row partition key; None on unkeyed levels
    bufs: list  # per-row sketch bytes, None for a NULL sketch
    counts: list | None  # raw non-NULL frame counts; None on the raw level
    spans: dict | None  # key -> (lo, hi) row run on keyed merged levels


def _null_first(k) -> tuple:
    """Sort key of the job path's ``ORDER BY key`` (ascending, NULL
    first — Spark's ASC default)."""
    return (k is not None, k)


def mirror_bytes(col: str) -> Column:
    """Total sketch bytes of ``col`` — the mirror's byte-cap measure."""
    return F.coalesce(F.sum(F.length(F.col(col))), F.lit(0))


def land_mirror(rows: list, col: int, key: int | None):
    """A sketch mirror ``(secs int64 ndarray, bufs list[bytes|None],
    keys list|None)`` from collected rows: ``row[0]`` is the bucket
    second, ``row[col]`` the sketch bytes and ``row[key]`` the partition
    key (``None``: unkeyed). Sorts ``rows`` by second in place (stable, so
    a keyed bucket keeps the frame's row order)."""
    import numpy as np

    rows.sort(key=lambda r: r[0])
    secs = np.array([r[0] for r in rows], dtype=np.int64)
    bufs = [None if r[col] is None else bytes(r[col]) for r in rows]
    keys = [r[key] for r in rows] if key is not None else None
    return secs, bufs, keys


class SketchRetention(PrefixTiers):
    """Mixin adding ``compact_before`` / ``check_compact`` tiered retention
    to a per-bucket sketch rollup, and the sketch families' lifecycle.

    Host-class contract: ``self._df`` (cached rollup with ``__sec`` and,
    when keyed, ``__key``), ``self.bucket_seconds``, ``self.key_column``,
    and ``_union_agg_exprs()`` returning the merge aggregation(s) that
    re-bucket the sketch column(s). A sketch family also declares the
    class attributes below and :meth:`_sketch_agg`."""

    #: the rollup's sketch column (``__hll``, ``__kll`` or ``__theta``)
    _STATE: str
    #: the JSON sidecar :meth:`save` writes next to the parquet table
    _SIDECAR: str
    #: the ctor's family parameters, in order (``lg_k``, or ``k`` and
    #: ``suffix``); :meth:`save` writes them as sidecar keys
    _CONFIG: tuple[str, ...]
    #: "no key restriction" sentinel of the keyed asks — None is a real
    #: (NULL-partition) ask value, so absence needs its own object
    _NO_ASK = object()

    def __init__(
        self,
        rollup: DataFrame,
        column: str,
        bucket_seconds: int,
        *config,
        key_column: str | None = None,
    ):
        self._df = rollup
        self.column = column
        self.bucket_seconds = bucket_seconds
        for name, value in zip(self._CONFIG, config, strict=True):
            setattr(self, name, value)
        #: Optional partition key: sketches per (bucket, key value) — the
        #: partitioned-wheel-family idea applied to sketch state. Unkeyed
        #: asks on a keyed rollup union across keys (exact sketch algebra;
        #: HLL and theta unions are idempotent, so values seen under
        #: several keys never double-count).
        self.key_column = key_column
        #: Driver-known UPPER bound on the rollup's row count (r15): the
        #: build, load and merge paths each run a materializing action
        #: that counts the rows. Theta's :meth:`retention_by` reads it to
        #: prove its period count small (periods ≤ rollup rows, always).
        #: ``None`` = unknown; compaction only shrinks rows, so a recorded
        #: bound survives it.
        self._rollup_rows: int | None = None

    def _sketch_agg(self) -> Column:
        """The family's per-bucket sketch aggregate over ``self.column``
        (the build's and every merge delta's)."""
        raise NotImplementedError

    # ---------------------------------------------------------- freshness
    #: The stale-never-answers discipline, extended from the wheels and
    #: the ANN index to the sketch rollups: when a maintenance batch
    #: cannot be folded in (the stream does not carry the rollup's value
    #: or partition column), the maintainer MARKS the rollup instead of
    #: silently skipping it (answers would quietly miss streamed data) or
    #: raising mid-stream (an AnalysisException/ValueError inside
    #: foreachBatch kills the query). Every ask then refuses until the
    #: operator rebuilds — or explicitly accepts with :meth:`mark_fresh`.
    @property
    def stale(self) -> bool:
        return getattr(self, "_stale_reason", None) is not None

    def mark_stale(self, reason: str) -> None:
        self._stale_reason = reason

    def mark_fresh(self) -> None:
        """Clear the stale mark — after a rebuild over the full data, or
        as an explicit operator decision to serve answers that miss the
        unfolded batches. Never called implicitly: a later complete batch
        cannot repair the rows already missed."""
        self._stale_reason = None

    def _require_fresh(self) -> None:
        reason = getattr(self, "_stale_reason", None)
        if reason is not None:
            raise RuntimeError(
                f"sketch rollup is STALE ({reason}) — rebuild it, or call "
                "mark_fresh() to knowingly serve answers missing streamed "
                "data"
            )

    # ------------------------------------------------------------ ask memo
    #: The frequency rollup answers zero-job from a full driver mirror of
    #: its kept rows (exact integers — numpy can re-aggregate them). The
    #: HLL / KLL / theta states are JVM DataSketches binaries, and merging
    #: them in PYTHON would mean reimplementing the DataSketches wire
    #: formats (datasketches-python is not available here) — a correctness
    #: hazard for zero semantic gain, so THE MERGES STAY JVM. r9 added the
    #: first driver-side economics: an LRU memo (every ask is a pure
    #: function of rollup state + args), ~µs repeats. r10 added the
    #: second: the merges still run in the JVM, but in the DRIVER's JVM —
    #: one py4j call hands the range's sketch bytes to the shim's
    #: UwheelSketchOps (the same bundled datasketches-java classes Spark's
    #: expressions use), so FRESH asks drop from the ~120-300 ms job floor
    #: to ~1-5 ms. See the direct-asks section below.
    _ASK_MEMO_MAX = 256

    @staticmethod
    def _ask_token(v) -> tuple:
        """Type-tagged memo-key component for an ask argument: ``str(v)``
        alone erases the argument's type, so two asks of different types
        that stringify identically but resolve differently (int epoch
        ``100`` vs the string ``'100'`` — `_range_filter` parses strings
        as timestamps but treats ints as epochs) would alias to one
        cached answer. The tag keeps them distinct; unhashable arguments
        still fail later with the clearer coercion error, not at the memo
        lookup (str() is total)."""
        return (type(v).__name__, str(v))

    def _memoized_ask(self, key: tuple, compute):
        """Return the memoized answer for ``key`` or run ``compute`` and
        remember it. NOT a freshness gate — callers still `_require_fresh`
        first. KLL note: merge compaction is randomized, so a memoized
        quantile pins ONE of the adjacent data values repeated live asks
        could alternate between — any memoized answer is a valid answer.
        Concurrency: invalidate_asks swaps in a FRESH dict (readers on the
        old snapshot stay consistent), and every lookup/evict here
        tolerates a concurrent swap/evict (get-with-sentinel,
        pop-with-default) — a dashboard thread racing a streaming merge
        can at worst recompute, never crash or see a half state."""
        memo = getattr(self, "_ask_memo", None)
        if memo is None:
            memo = self._ask_memo = {}
        val = memo.get(key, _MEMO_MISS)
        if val is not _MEMO_MISS:
            memo.pop(key, None)  # LRU touch (dicts iterate in order)
            memo[key] = val
            return val
        val = compute()
        memo[key] = val
        while len(memo) > self._ASK_MEMO_MAX:
            try:
                memo.pop(next(iter(memo)), None)
            except (StopIteration, RuntimeError):
                break
        return val

    def invalidate_asks(self) -> None:
        """Drop memoized answers — called by every mutation (merge_batch,
        compact_before); stale transitions need no invalidation (the data
        under a stale mark never changed, only its completeness)."""
        self._ask_memo = {}

    # --------------------------------------------- shared one-pass storage
    def _detach_shared(self) -> bool:
        """Drop this handle's claim on a one-pass shared parent frame
        (multi-column and cross-family builds), releasing the parent cache
        when the LAST sibling detaches. Returns whether the handle was
        sharing (its own ``_df`` is an unpersisted view). Mutation paths
        call this instead of ``unpersist`` on the frame being replaced —
        the handle then owns a private persisted frame."""
        shared = getattr(self, "_shared", None)
        if shared is None:
            return False
        self._shared = None
        shared["refs"] -= 1
        if shared["refs"] == 0:
            shared["df"].unpersist()
        return True

    def unpersist(self) -> None:
        """Release the storage that holds the sketches: this handle's claim
        on the shared one-pass parent (refcounted across sibling handles)
        or its private frame."""
        if not self._detach_shared():
            self._df.unpersist()

    # ------------------------------------------------ one lifecycle, written once
    def _sketch_frame(self, df: DataFrame, time_column: str, aggs) -> DataFrame:
        """``df``'s timestamped rows grouped by bucket second (and key)
        under ``aggs`` — the pass shape of every build and of every merge
        delta. Tier-aware: late rows landing in a compacted span bucket at
        the tier width (:meth:`_bucket_expr`)."""
        keys = [self._bucket_expr(time_sec_col(df, time_column)).alias("__sec")]
        if self.key_column is not None:
            keys.append(F.col(self.key_column).alias("__key"))
        return df.filter(F.col(time_column).isNotNull()).groupBy(*keys).agg(*aggs)

    def _merge_batch_locked(self, batch_df, time_column, StorageLevel) -> None:
        """Merge a micro-batch of raw rows: the batch is sketched per
        bucket with the family's pinned parameters, unioned with the
        stored sketches, and re-merged by bucket with
        ``_union_agg_exprs()``. Sketches are mergeable monoids, so the
        merged rollup answers as a fresh build over the union would (HLL
        and theta bit-for-bit, KLL inside its rank bound); late data lands
        in its bucket. The new rollup is materialized before the old
        storage is released: a handle from a one-pass build drops its
        claim on the shared parent (released by the last sibling) and
        owns a private frame from then on."""
        if self.key_column is not None and self.key_column not in batch_df.columns:
            raise ValueError(
                f"batch lacks partition column {self.key_column!r} — a "
                "keyed rollup cannot be maintained without it"
            )
        delta = self._sketch_frame(
            batch_df, time_column, [self._sketch_agg().alias(self._STATE)]
        )
        group = ["__sec"] + (["__key"] if self.key_column is not None else [])
        merged = (
            self._df.unionByName(delta)
            .groupBy(*group)
            .agg(*self._union_agg_exprs())
            .coalesce(_CACHE_PARTITIONS)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_rows = merged.count()
        old = self._df
        self._df = merged
        self._rollup_rows = n_rows
        if not self._detach_shared():
            old.unpersist()
        self.invalidate_asks()
        self._drop_mirror()

    def save(self, path: str) -> str:
        """Persist the sketch table as parquet (one distributed write) plus
        the family's JSON sidecar pinning column, bucket width, ctor
        config, key column, tiers and stale mark — without it a restart
        loses the rollup and every estimate pays a rebuild scan. Reload
        with :func:`load_rollup`."""
        self._df.write.mode("overwrite").parquet(path)
        meta = {"column": self.column, "bucket_seconds": self.bucket_seconds}
        meta.update((name, getattr(self, name)) for name in self._CONFIG)
        meta.update(key_column=self.key_column, **self._persist_meta())
        with open(os.path.join(path, self._SIDECAR), "w") as f:
            json.dump(meta, f)
        return path

    def _range_filter(self, start, end) -> Column:
        """Bucket filter covering ``[start, end)``: a bucket ``[s, s+w)``
        intersects the range iff ``s > a - w`` and ``s < b`` — partial edge
        buckets on BOTH sides are included whole (superset semantics;
        estimates never undercount against unaligned bounds — align bounds
        to ``bucket_seconds`` for exact range semantics). The per-row
        width follows the compaction tiers, so a coarse bucket spanning
        the range start is still included whole."""
        a = F.unix_timestamp(F.lit(start).cast("timestamp"))
        b = F.unix_timestamp(F.lit(end).cast("timestamp"))
        return (F.col("__sec") > a - self._width_expr()) & (F.col("__sec") < b)

    def _require_key(self) -> None:
        if self.key_column is None:
            raise ValueError(
                "rollup was built without partition_by — no key column"
            )

    def _restrict(self, start, end, key=_NO_ASK) -> DataFrame:
        """The job path's rows for ``[start, end)``, optionally one key
        partition (NULL-safe: ``key=None`` is the NULL partition)."""
        df = self._df.filter(self._range_filter(start, end))
        if key is not SketchRetention._NO_ASK:
            self._require_key()
            df = df.filter(F.col("__key").eqNullSafe(F.lit(key)))
        return df

    def _within(self, start=None, end=None) -> DataFrame:
        """The rollup under an optional ``[start, end)`` restriction of the
        group-by forms — an open side reads the literal ``'1970-01-01'`` /
        ``'9999-01-01'``."""
        if start is None and end is None:
            return self._df
        return self._df.filter(
            self._range_filter(start or "1970-01-01", end or "9999-01-01")
        )

    def _bucket_col(self, granularity, start=None) -> Column:
        """The group-by forms' output bucket (``TIMESTAMP``):
        ``date_trunc`` for a named granularity, an epoch-aligned tumbling
        window for an integer width in seconds. Raises unless the
        granularity is tiled by every stored width from ``start`` on
        (:meth:`_check_granularity`)."""
        self._check_granularity(granularity, start)
        sec = F.col("__sec")
        if isinstance(granularity, int):
            return F.timestamp_seconds(sec - sec % F.lit(granularity))
        return F.date_trunc(str(granularity), F.timestamp_seconds(sec))

    # ------------------------------------------------ direct (zero-job) asks
    #: r10: the frequency family's driver-mirror economics extended to the
    #: JVM-sketch families WITHOUT touching sketch wire formats in Python
    #: (the r9 merges-stay-JVM decision stands — they just run in the
    #: DRIVER's JVM now): the rollup's (sec, sketch_bytes) rows live in a
    #: lazy driver mirror, a range ask numpy-slices it exactly like the
    #: job path's _range_filter, and ONE py4j call hands the framed bytes
    #: to the shim's UwheelSketchOps, which merges them with the SAME
    #: bundled datasketches-java classes Spark's own expressions use (call
    #: chains pinned from bytecode — see jvm/UwheelShim.scala). A fresh
    #: sketch ask then costs ~1-5 ms instead of the ~120-300 ms
    #: small-job floor. Sessions without the shim jar on the driver
    #: classpath (e.g. the correctness harness's bare session) fall back
    #: to the job path transparently — answers are identical (probe r10:
    #: exact parity on HLL estimate, KLL quantile/rank, theta i/u/d/e).

    @staticmethod
    def _is_class_not_found(e) -> bool:
        """Whether a py4j exception wraps a genuine java
        ClassNotFoundException/NoClassDefFoundError — inspected by java
        TYPE, never message text (ADVICE r10: the old substring latch was
        DEAD code on the bundled py4j, where absent classes raise
        ``TypeError: 'JavaPackage' object is not callable``)."""
        jexc = getattr(e, "java_exception", None)
        if jexc is None:
            return False
        try:
            return jexc.getClass().getName() in (
                "java.lang.ClassNotFoundException",
                "java.lang.NoClassDefFoundError",
            )
        except Exception:
            return False

    @staticmethod
    def _shim_absent(spark, _cls: str = "io.uwheel.spark.UwheelSketchOps") -> bool:
        """Definitive absence probe: ask the JVM itself, and report absent
        ONLY when BOTH the system classloader (``Class.forName`` — the
        ``spark.driver.extraClassPath`` route ``get_spark`` uses) and the
        py4j handler thread's context classloader (the loader py4j's own
        reflection resolves through — where a ``spark.jars``-delivered
        jar lives in Spark's MutableURLClassLoader) raise a genuine
        ClassNotFoundException (r11 review: a system-loader-only probe
        would misclassify a spark.jars deployment's transient hiccup as
        definitive absence and latch the permanent job-path downgrade
        this probe exists to prevent). Any doubt — unreadable loader,
        non-CNFE error — reads as NOT absent, so the caller warns and
        re-probes instead of latching."""
        try:
            spark._jvm.java.lang.Class.forName(_cls)
            return False
        except Exception as e:
            if not SketchRetention._is_class_not_found(e):
                return False
        try:
            cl = spark._jvm.java.lang.Thread.currentThread().getContextClassLoader()
            if cl is None:
                return False  # cannot confirm -> not definitive
            cl.loadClass(_cls)
            return False
        except Exception as e:
            return SketchRetention._is_class_not_found(e)

    def _sketch_ops(self):
        """The shim's UwheelSketchOps static forwarders, or None when the
        session lacks the jar — resolved ONCE per rollup (py4j class
        lookups are lazy; ping() forces resolution so absence surfaces
        here, never mid-ask)."""
        ops = getattr(self, "_jvm_ops", _MEMO_MISS)
        if ops is _MEMO_MISS:
            spark = None
            try:
                spark = self._df.sparkSession
                # the driver literal math assumes the engine's pinned UTC
                # session (get_spark); a non-UTC session resolves string
                # bounds differently on the job path, so refuse the
                # direct path there (review r10p3). Mutating the session
                # timezone AFTER construction is out of contract
                # engine-wide (session.py: UTC is correctness-critical).
                if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
                    ops = None
                else:
                    jops = spark._jvm.io.uwheel.spark.UwheelSketchOps
                    jops.ping()
                    ops = jops
            except Exception as e:
                # latch None only when the JVM DEFINITIVELY reports the
                # class absent (shim-less session); a transient py4j/GC
                # hiccup must not silently downgrade this rollup to the
                # ~100x slower job path forever (review r10p5, ADVICE r10)
                if spark is not None and self._shim_absent(spark):
                    ops = None
                else:
                    log.warning(
                        "direct sketch-ask probe failed transiently (%r) — "
                        "this ask takes the job path; the next ask re-probes",
                        e,
                    )
                    return None  # NOT latched
            self._jvm_ops = ops
        return ops

    #: Strings the direct path resolves itself: the classic Spark
    #: timestamp-literal shapes only. The engine's parse_ts_literal
    #: (fromisoformat-based) ACCEPTS more — ISO basic '20240201', week
    #: dates '2024-W05-1', zone-suffixed forms — some of which Spark's
    #: ANSI cast REJECTS; resolving those directly would silently answer
    #: bounds the job path raises on (review r10p3, probe-confirmed).
    #: Everything outside the gate falls back: correct either way, just
    #: slower.
    _DIRECT_TS_RE = re.compile(
        r"^\s*\d{4}-\d{2}-\d{2}"
        r"([ T]\d{2}:\d{2}(:\d{2}(\.\d{1,6})?)?)?\s*$"
    )

    #: Mirror/ask size caps: above these the job path is the RIGHT plan —
    #: it keeps the sketch bytes in executor cache and moves one merged
    #: sketch, while the direct path would copy the range's bytes through
    #: the single py4j socket and hold them twice (review r10p3). 120k
    #: buckets ≈ a decade of hourly (or 3 months of minute) buckets; the
    #: BYTE cap is the real guard (review r10p4: 120k keyed theta rows at
    #: a raised lg_k could be multi-GB under a rows-only cap).
    _MIRROR_MAX_ROWS = 120_000
    _MIRROR_MAX_BYTES = 256 << 20
    _DIRECT_MAX_BYTES = 64 << 20
    #: r13: asks framing a merged level past this many bytes take the
    #: one-job path instead — the escape hatch in :meth:`_fits`.
    _TIER_JOB_ESCAPE_BYTES = 32 << 20

    @staticmethod
    def _epoch_bound(v):
        """Driver-side epoch seconds for a range bound, EXACTLY as the job
        path's ``F.lit(v).cast('timestamp')`` resolves it, or None to force
        the job path: ints are epoch seconds (probe r10: CAST(100 AS
        TIMESTAMP) = epoch 100); datetimes resolve through
        ``datetime.timestamp()`` — PySpark converts a NAIVE datetime
        literal through the PYTHON PROCESS's local timezone, which
        ``.timestamp()`` mirrors exactly (tz-aware values are absolute
        instants either way, and ``unix_timestamp`` floors the fraction);
        strings resolve only inside the classic-literal gate
        (`_DIRECT_TS_RE`) and floor like the cast (probe r10); everything
        else — bools, floats, dates, exotic ISO forms — returns None so
        the job path keeps its own coercions and ANSI cast errors."""
        import datetime as _dt

        if isinstance(v, bool) or isinstance(v, float):
            return None
        if isinstance(v, int):
            return v
        if isinstance(v, _dt.datetime):
            # mirror PySpark's DatetimeConverter EXACTLY (review r10p4):
            # naive -> time.mktime(timetuple()) in the PROCESS-local tz,
            # aware -> calendar.timegm(utctimetuple()). datetime
            # .timestamp() disagrees for datetime SUBCLASSES (a naive
            # pd.Timestamp treats itself as UTC) and in DST-ambiguous
            # local hours; timetuple() is what the converter reads, so
            # subclasses cannot diverge. unix_timestamp then floors the
            # microsecond fraction on the job path — timetuple carries
            # none, matching.
            if v.tzinfo is None:
                import time as _time

                return int(_time.mktime(v.timetuple()))
            import calendar

            return calendar.timegm(v.utctimetuple())
        if isinstance(v, str) and SketchRetention._DIRECT_TS_RE.match(v):
            try:
                return SketchRetention._epoch_sec(v)
            except ValueError:
                # date-SHAPED but invalid ('2024-02-30'): the parser's
                # date branch raises where its datetime branch returns
                # None — either way the job path must own the error
                # (ANSI CAST_INVALID_INPUT), so fall back (review r10p4)
                return None
        return None

    def _lazy_lock(self, attr: str):
        """Per-instance lock, minted once: plain ``get`` on the hot path
        (review pass 3: ``setdefault`` alone constructs-and-discards a
        Lock on EVERY access), ``setdefault`` — atomic under the GIL — on
        the first, so two racing first-asks cannot mint two locks."""
        lock = self.__dict__.get(attr)
        if lock is None:
            import threading

            lock = self.__dict__.setdefault(attr, threading.Lock())
        return lock

    @property
    def _publish_lock(self):
        """Tiny leaf lock serializing the (frame, tiers) pair: held by
        :meth:`_mirror_box`'s read-check-create and by compact_before's
        publication block ONLY — attribute assignments, never Spark work,
        so contention is nanoseconds. Publication ordering alone cannot
        make a two-attribute pair coherent (r11 review pass 2: a reader
        preempted between the ``_df`` and ``tiers`` reads pairs them
        across a completed compaction no matter which order the writer
        stores them in)."""
        return self._lazy_lock("_publish_lock_obj")

    @property
    def _mutate_lock(self):
        """Writer-writer lock: held for the WHOLE of compact_before and
        of every family's merge_batch (review pass 3: an operator-thread
        compaction racing the streaming maintainer's merge_batch would
        publish a merged frame built from the PRE-merge ``_df``, silently
        dropping the batch's rows — the one wrong-answer class the
        stale-never-answers discipline exists to forbid). Mutations are
        rare and seconds-long; serializing them is the semantics, not a
        bottleneck. Lock order: _mutate_lock OUTER, _publish_lock inner;
        readers take only _publish_lock, so no deadlock is possible."""
        return self._lazy_lock("_mutate_lock_obj")

    def _mirror_box(self) -> dict:
        """The mirror's holder, keyed to the CURRENT frame by identity:
        a direct ask racing a streaming merge can finish its collect after
        the mutation swapped ``_df`` — publishing into ``self`` would pin
        pre-merge answers until the next mutation (review r10p3). Readers
        publish into THEIR box; any ask after the swap sees a different
        frame identity and opens a fresh box, so staleness is bounded by
        the racing ask itself (the memo's at-worst-recompute contract).

        The box pairs the frame with a TIERS SNAPSHOT (ADVICE r10), and
        the pairing happens under :attr:`_publish_lock` so it can never
        interleave with compact_before's publication — the only mutation
        that changes both attributes (merge_batch swaps only ``_df``, so
        its rebuilt box pairs the new frame with unchanged tiers without
        needing the lock on its own store)."""
        with self._publish_lock:
            df = self._df
            box = getattr(self, "_mirror_ref", None)
            if box is None or box["df"] is not df:
                box = self._mirror_ref = {
                    "df": df,
                    "tiers": list(self.tiers),
                    "m": None,
                }
            return box

    def _bytes_mirror(self, col: str, box: dict | None = None):
        """``(secs int64 ndarray, bufs list[bytes|None], keys list|None)``
        of the rollup, sec-sorted — collected ONCE per data version
        (mutations swap the frame, which retires the box; invalidate_asks
        does NOT drop it: the memo prices repeat asks, the mirror is
        data). ``False`` when the rollup exceeds `_MIRROR_MAX_ROWS` (the
        job path is the right plan there). Keyed rollups mirror every
        (sec, key, bytes) row; unkeyed asks union across keys exactly
        like the job path, and keyed asks answer directly ONLY under the
        same-type gate (:meth:`_key_gate`) — the cross-type coercion
        grammar stays on the job path (the frequency minefield)."""
        if box is None:
            box = self._mirror_box()
        m = box["m"]
        if m is not None:
            return m
        df = box["df"]
        # ONE combined pre-job prices the mirror before collecting it:
        # rows AND bytes (the byte cap is the real OOM guard — review
        # r10p4). Two small jobs per DATA VERSION (this + the collect),
        # never per ask; a fresh cross-family build lands every family's
        # mirror from its own sizing and ONE collect (multibuild).
        sized = df.agg(
            F.count(F.lit(1)).alias("n"), mirror_bytes(col).alias("b")
        ).collect()[0]
        if not self._mirror_fits(sized["n"], sized["b"]):
            m = box["m"] = False
            return m
        keyed = self.key_column is not None and "__key" in df.columns
        cols = ["__sec", col] + (["__key"] if keyed else [])
        m = box["m"] = land_mirror(df.select(*cols).collect(), 1, 2 if keyed else None)
        return m

    def _mirror_fits(self, rows: int, nbytes: int) -> bool:
        """Whether a mirror of ``rows`` rows and ``nbytes`` sketch bytes is
        under this family's caps (over them the job path is the plan)."""
        return rows <= self._MIRROR_MAX_ROWS and nbytes <= self._MIRROR_MAX_BYTES

    def _drop_mirror(self) -> None:
        self._mirror_ref = None
        self._jvm_ops = _MEMO_MISS  # session could differ after load

    def _warm_mirror(self, col: str) -> None:
        """Eager warm on fresh builds/loads (the r9 zero-job-from-the-
        start discipline) — but only when the session can actually serve
        direct asks; stale loads stay lazy (collects they could never
        serve)."""
        if not self.stale and self._sketch_ops() is not None:
            self._bytes_mirror(col)

    #: Key-column SQL types whose SAME-TYPE Python equality IS Spark's
    #: equality — the only keyed asks the direct path serves (r11, the
    #: r10 verdict's #6). Cross-type asks (int on a string column, bool,
    #: floats, decimals, dates, structs) involve Spark's coercion grammar
    #: — the probe-pinned frequency minefield — and stay on the job path.
    _DIRECT_KEY_TYPES = {"string": str, "bigint": int, "int": int,
                         "smallint": int, "tinyint": int}

    def _key_gate(self, key) -> bool:
        """Whether a keyed ask can answer driver-side: NULL asks match the
        NULL partition identically on any key type; otherwise the ask's
        Python type must be the key column's exact counterpart (bool is
        NOT int here — ``F.lit(True)`` casts through a different grammar
        than ``F.lit(1)``)."""
        if self.key_column is None:
            return False  # the job path owns the "no key column" raise
        dtype = dict(self._df.dtypes).get("__key")
        if dtype is None:
            # key_column set but no __key column (hand-built handle): the
            # job path owns the missing-column raise — NULL asks included
            # (r11 review: the None early-return sat before this check)
            return False
        if key is None:
            return True  # eqNullSafe NULL-partition match, type-independent
        want = self._DIRECT_KEY_TYPES.get(dtype)
        if want is None or type(key) is not want:
            return False
        if want is int and not -(2**63) <= key < 2**63:
            return False  # job path owns the out-of-long-range error
        return True

    def _direct_frame(self, col: str, start, end, key=_NO_ASK):
        """ONE gate for every family's direct branch (review r10p3 —
        the guard was drifting across four call sites): ``(framed, n)``
        when the direct path applies — shim present on a UTC session,
        job-equivalent bounds, a same-type (or NULL, or absent) key
        restriction, mirror and blob inside the size caps — else None
        (job path)."""
        if self._sketch_ops() is None:
            return None
        if key is not SketchRetention._NO_ASK and not self._key_gate(key):
            return None
        a = self._epoch_bound(start)
        b = self._epoch_bound(end)
        if a is None or b is None:
            return None
        return self._framed_range(col, a, b, key)

    def _selected_indices(self, box: dict, secs, a: int, b: int):
        """Mirror-row indices intersecting ``[a, b)`` — the ONE driver-side
        copy of ``_range_filter``'s selection (``sec > a - width AND
        sec < b``, per-row tier-aware width; reversed tiers so the FIRST
        matching tier wins, like ``_width_expr``'s CASE chain). Tiers come
        from the MIRROR BOX, not ``self`` — the box is the one consistent
        (frame, tiers) snapshot under a racing compact_before (ADVICE
        r10)."""
        import numpy as np

        if not len(secs):
            return np.empty(0, dtype=np.int64)
        w = np.full(len(secs), self.bucket_seconds, dtype=np.int64)
        for end, tw in reversed(box["tiers"]):
            w[secs < end] = tw
        return np.nonzero((secs > a - w) & (secs < b))[0]

    # ------------------------------------------------ the sketch ask ladder
    # Every direct ask frames ONE level of a ladder (µWheel's HAW: fine
    # slots pre-merged into coarser ones): the RAW mirror, the per-UTC-day
    # pre-merge ("day"; _KEY_DAY per (key, day) on keyed rollups) and a
    # rung above it — the ask granularity ("week", "month", a multiple of
    # a day) or each key's full-span total ("key"). Each merged level is
    # built by _premerge at most once per mirror box (mutations retire the
    # box; invalidate_asks does not) and cached in
    # box["levels"][(col, cell)] — False marks a tried and refused build.
    # Asks pick rung before day level before raw, and _frame frames
    # whichever level they got.

    #: Day pre-merge floor (r12 — the r11 verdict's grouped-at-scale
    #: finding): day-composable asks over a raw mirror at least this many
    #: rows deep frame per-UTC-day merged sketches instead of every raw
    #: bucket — the measured sf1 week series shipped 7.1 MB (7,200 hourly
    #: sketches) through the py4j socket per fresh ask; the day level
    #: ships ~350. Below the floor raw framing is already cheap and the
    #: one-time pre-merge would not amortize.
    _TIER_MIN_ROWS = 2048
    _TIER_SECONDS = 86400
    #: Rung floor (r13): a day level at least this many days deep (per key,
    #: r14, on keyed rollups) gets a rung above it, so a full-span week
    #: series frames O(weeks) merged sketches instead of O(days) — the
    #: sf10 full-span series framed ~3,500 day sketches at 670 ms, past
    #: its own ~300 ms one-job floor. Measured warm, rung on vs off, at
    #: 3,000 hourly days × ~1,000 ids/day (4-core box, 12 interleaved
    #: pairs, every pair won): full-span week series theta 773 → 489 ms,
    #: HLL 239 → 27 ms; 4-key ``distinct_rows_by_key`` 504 → 0.8 ms.
    _RUNG_MIN_DAYS = 180

    def _jvm_merge_grouped(self, ops):
        """The family's ``*MergeGrouped`` JVM op (bound method) or None
        when the family has no pre-merge (merged levels disabled).
        Overridden by each rollup class; merge semantics per family:
        theta unions are exact set algebra, HLL register unions are
        associative (identical final state), KLL merges are rank-bounded
        — each exactly the direct-vs-job contract that family already
        documents."""
        return None

    def _tier_serves_range(self, box: dict, a: int, b: int) -> bool:
        """Whether a RESTRICTED ask may slice the day level instead of the
        width-aware raw selection (r12): requires day-aligned bounds AND
        every bucket width in play (base + compaction tiers) dividing a
        day. Then bucket starts are day-interior (no bucket crosses a day
        boundary), no bucket start can fall strictly inside ``(a - w,
        a)``, and ``_selected_indices``' superset rule ``sec > a - w AND
        sec < b`` reduces EXACTLY to ``sec ∈ [a, b)`` — which whole-day
        slicing reproduces. Any non-dividing width (a 7h grid, a weekly
        compaction tier) or unaligned bound keeps the raw framing."""
        d = self._TIER_SECONDS
        if a % d or b % d:
            return False
        widths = [self.bucket_seconds] + [w for _end, w in box["tiers"]]
        return all(w > 0 and d % w == 0 for w in widths)

    def _tier_granularity_ok(self, granularity) -> bool:
        """Day-composable ask granularities: the named calendar levels day
        and coarser, or int widths that are multiples of 86400 — cell
        assignment by bucket START provably composes through the day
        truncation (``trunc_g(trunc_day(s)) == trunc_g(s)``)."""
        if isinstance(granularity, int):
            return granularity % self._TIER_SECONDS == 0
        return granularity in ("day", "week", "month", "quarter", "year")

    def _rung_serves_bounds(self, granularity, a: int, b: int) -> bool:
        """Whether ``[a, b)`` lands exactly on rung-cell boundaries —
        both bounds are fixed points of the granularity's truncation, so
        every rung cell is wholly inside or wholly outside the range and
        rung slicing reproduces the day level's whole-day slicing (which
        :meth:`_tier_serves_range` already proved equals the raw
        selection). Unaligned bounds keep the day level: its edge cells
        group partially into the ask's first/last bucket, which a
        pre-merged rung cell could not represent."""
        import numpy as np

        from ..functions.timestamps import bucket_starts

        kb = bucket_starts(np.asarray([a, b], dtype=np.int64), granularity)
        return int(kb[0]) == a and int(kb[1]) == b

    @staticmethod
    def _raw_level(m) -> Level | None:
        """The raw mirror ``m`` as a level (None: over-cap mirror)."""
        return None if m is False else Level(m[0], m[2], m[1], None, None)

    def _level(self, col: str, box: dict, cell):
        """The merged level of ``col`` at ``cell`` — or None when
        ineligible: no ``*MergeGrouped`` op, a day level of the wrong
        keyedness or under ``_TIER_MIN_ROWS``, a rung under
        ``_RUNG_MIN_DAYS``, or a refused build. Sources: the raw mirror
        under ``"day"`` / ``_KEY_DAY``, those levels under the rungs; an
        over-cap raw mirror (or raw bytes past ``_DIRECT_MAX_BYTES``)
        builds the day level by ONE Spark job (:meth:`_tier_job_rows`)
        instead — days are 24-3600x fewer than raw buckets, so the level
        fits where the mirror cannot. Refusals that depend on a floor are
        not cached: the floors are per-instance settings that may change."""
        ops = self._sketch_ops()
        merge = None if ops is None else self._jvm_merge_grouped(ops)
        if merge is None:
            return None
        cache = box.setdefault("levels", {})
        lv = cache.get((col, cell))
        if lv is not None:
            return lv or None
        keyed = cell in (_KEY_DAY, "key")
        if cell in ("day", _KEY_DAY):
            src = self._raw_level(box["m"])
            rows_keyed = (
                self.key_column is not None if src is None else src.keys is not None
            )
            if rows_keyed != keyed:
                return None
            if src is not None and len(src.secs) < self._TIER_MIN_ROWS:
                return None
        else:
            src = self._level(col, box, _KEY_DAY if keyed else "day")
            if src is None:
                return None
            # the rung's win is the days-1 unions it pre-pays per cell, so
            # a keyed rung gates on the deepest key (r14), not on cells
            depth = (
                max((hi - lo for lo, hi in src.spans.values()), default=0)
                if keyed
                else len(src.secs)
            )
            if depth < self._RUNG_MIN_DAYS:
                cache[(col, cell)] = False
                return None
        lv = None if src is None else self._premerge(merge, src, cell)
        if lv is None and cell in ("day", _KEY_DAY):
            lv = self._job_level(col, box, keyed)
        cache[(col, cell)] = False if lv is None else lv
        return lv

    def _premerge(self, merge, src: Level, cell) -> Level | None:
        """ONE pre-merge step under every merged level: the sorted source
        level's rows grouped into ``cell`` runs by :meth:`_frame`, merged
        by ONE ``*MergeGrouped`` py4j call. Cell counts are the summed raw
        non-NULL frame counts, so count-0 cells keep the job path's NULL
        arms on the same numbers as the raw framing; exactness inherits
        each family's contract (one more level of the same union monoid).
        None when the source frames exceed ``_DIRECT_MAX_BYTES``."""
        idx = list(range(len(src.secs)))
        if cell in (_KEY_DAY, "key"):
            idx = self._key_sorted(src, idx)
        cells, counts, fcounts, frames = self._frame(
            src, idx, self._cell_ids(cell, src, idx)
        )
        if sum(len(x) for x in frames) > self._DIRECT_MAX_BYTES:
            return None
        bufs = self._unframe(bytes(merge(self._pack(frames, fcounts))))
        return self._as_level(cell, cells, bufs, counts)

    def _job_level(self, col: str, box: dict, keyed: bool) -> Level | None:
        """The day (or (key, day)) level by ONE Spark job — see
        :meth:`_tier_job_rows`."""
        rows = self._tier_job_rows(col, box, keyed)
        if rows is None:
            return None
        rows = sorted(
            (r if keyed else (None, *r) for r in rows),
            key=lambda r: (_null_first(r[0]), r[1]),
        )
        return self._as_level(
            _KEY_DAY if keyed else "day",
            [(r[0], int(r[1])) if keyed else int(r[1]) for r in rows],
            [None if r[2] is None else bytes(r[2]) for r in rows],
            [int(r[3]) for r in rows],
        )

    @staticmethod
    def _as_level(cell, cells: list, bufs: list, counts: list) -> Level:
        """A merged level from its cell ids — a key's full-span total
        (``"key"``) sits at second 0: only full-span asks read it."""
        import numpy as np

        if cell == _KEY_DAY:
            keys, secs = [c[0] for c in cells], [c[1] for c in cells]
        elif cell == "key":
            keys, secs = cells, [0] * len(cells)
        else:
            keys, secs = None, cells
        spans = None
        if keys is not None:
            spans = {}
            for i, k in enumerate(keys):
                spans[k] = (spans.get(k, (i,))[0], i + 1)
        return Level(np.asarray(secs, dtype=np.int64), keys, bufs, counts, spans)

    @staticmethod
    def _cell_ids(cell, lv: Level, idx: list) -> list:
        """Each selected row's cell: its UTC day, its ask-granularity
        bucket (``functions.timestamps.bucket_starts`` — the truncation
        the frequency family pinned), its (key, day) or its key."""
        from ..functions.timestamps import bucket_starts

        if cell == "key":
            return [lv.keys[i] for i in idx]
        day = "day" if cell == _KEY_DAY else cell
        buckets = bucket_starts(lv.secs[idx], day).tolist()
        if cell == _KEY_DAY:
            return list(zip([lv.keys[i] for i in idx], buckets))
        return buckets

    @staticmethod
    def _key_sorted(lv: Level, idx: list) -> list:
        """``idx`` in the job path's ``ORDER BY key`` order (ascending,
        NULL first). Stable, so each key keeps its rows' sec order; merged
        keyed levels are stored in that order already."""
        if lv.counts is None:
            idx.sort(key=lambda i: _null_first(lv.keys[i]))
        return idx

    def _select(self, box: dict, lv: Level, a, b, lo: int = 0, hi=None) -> list:
        """Indices of ``lv``'s rows ``lo:hi`` inside ``[a, b)`` (``a`` None:
        all of them). The raw level selects by :meth:`_selected_indices`'
        width-aware rule; a merged level's cells are day-interior, so
        exact ``[a, b)`` slicing is the same selection wherever callers
        let it serve (:meth:`_tier_serves_range`)."""
        import numpy as np

        secs = lv.secs[lo:hi]
        if a is None:
            idx = np.arange(len(secs))
        elif lv.counts is None:
            idx = self._selected_indices(box, secs, a, b)
        else:
            idx = np.nonzero((secs >= a) & (secs < b))[0]
        return (idx + lo).tolist()

    @staticmethod
    def _frame(lv: Level, idx: list, cids):
        """ONE framer under every direct ask and pre-merge step: ``lv``'s
        rows ``idx`` grouped into contiguous runs of their cell ids
        ``cids`` (callers order ``idx`` so cells arrive as runs — secs
        ascend and every truncation is monotone; keyed cells come
        key-sorted). Returns ``(cells, counts, frame_counts, frames)``:
        ``counts`` sums each cell's RAW non-NULL frame counts (a merged
        cell frames ONE sketch but reports its raw count, so count-0
        cells keep the job path's NULL arms), ``frame_counts`` are the
        wire format's per-cell frame counts."""
        cells: list = []
        counts: list = []
        fcounts: list = []
        frames: list = []
        bufs, raw = lv.bufs, lv.counts
        for i, c in zip(idx, cids):
            if not cells or c != cells[-1]:
                cells.append(c)
                counts.append(0)
                fcounts.append(0)
            buf = bufs[i]
            if buf is not None:
                frames.append(buf)
                fcounts[-1] += 1
            counts[-1] += (buf is not None) if raw is None else raw[i]
        return cells, counts, fcounts, frames

    def _fits(self, lv: Level, frames: list) -> bool:
        """Whether a framing of ``lv`` may go direct: under
        ``_DIRECT_MAX_BYTES`` always and, on a merged level, under
        ``_TIER_JOB_ESCAPE_BYTES`` — the r13 escape hatch (the r12
        verdict's "direct must not cost more than its own job floor"):
        past it the driver packing + socket copy + JVM merge loses to the
        ONE-job executor-side merge (sf10: the ~64 MB full-span day
        framing took 670 ms vs the ~300 ms job floor — ~10 ms/MB). Merged
        answers equal the job path by each family's contract, so this is
        routing, not semantics. Raw framings keep the
        ``_DIRECT_MAX_BYTES``-only rule (their job alternative
        re-aggregates the raw rollup, a different trade)."""
        limit = self._DIRECT_MAX_BYTES
        if lv.counts is not None:
            limit = min(limit, self._TIER_JOB_ESCAPE_BYTES)
        return sum(len(x) for x in frames) <= limit

    @staticmethod
    def _pack(frames: list, counts: list | None = None) -> bytes:
        """ONE copy of the wire format's write side: ``[n_frames]`` (the
        scalar ops) or, given per-cell frame ``counts``, the grouped
        ``[n_cells][count_i]*n`` header, then ``[len bytes]*`` — all
        big-endian int32. py4j moves ``byte[]`` in one bulk transfer while
        ``int[]`` arguments pay one gateway round trip PER ELEMENT
        (~0.3 ms each), so a whole series merges in ONE py4j round trip."""
        import struct

        head = [len(frames)] if counts is None else [len(counts), *counts]
        parts = [struct.pack(f">{len(head)}i", *head)]
        for bb in frames:
            parts.append(struct.pack(">i", len(bb)))
            parts.append(bb)
        return b"".join(parts)

    @staticmethod
    def _unframe(blob: bytes) -> list:
        """Read side of the plain frame layout ``[n][len bytes]*`` (the
        ``*MergeGrouped`` return shape); zero-length frames — empty cells —
        come back as None."""
        import struct

        (n,) = struct.unpack_from(">i", blob, 0)
        off = 4
        out = []
        for _ in range(n):
            (ln,) = struct.unpack_from(">i", blob, off)
            off += 4
            out.append(bytes(blob[off : off + ln]) if ln else None)
            off += ln
        return out

    def _tier_job_rows(self, col: str, box: dict, keyed: bool):
        """ONE shared job-build core for the day and (key, day) levels
        (r12 review: the caps/fallback guards must not live in two
        drifting copies): pre-SIZED before collecting (the
        ``_bytes_mirror`` discipline — a post-collect guard would
        materialize an unbounded keys × days result on the driver before
        it could refuse) — rows first via a cheap countDistinct
        fast-refuse, then, over the PERSISTED day-grouped
        ``_union_agg_exprs`` + non-NULL frame count, BOTH caps from one
        tiny size aggregate BEFORE the row collect (r12 ADVICE: day-merged
        theta/KLL sketches can be orders of magnitude larger than their
        count; the persist makes the union agg run once). Returns the
        collected rows (``[key,] day_sec, sketch, n``) or None. All-NULL
        cells surface as empty sketches + count 0 (the probed
        union-over-NULLs semantics), which the ask-time counts map to the
        job path's NULL arms identically."""
        # floor division, not %: Spark's % follows the dividend's sign,
        # which would mis-bucket pre-epoch seconds vs bucket_starts'
        # floored arithmetic
        day = (
            F.floor(F.col("__sec") / self._TIER_SECONDS) * self._TIER_SECONDS
        ).cast("long")
        # struct-wrapped when keyed so NULL-key rows still count (bare
        # multi-arg countDistinct drops any row with a NULL argument)
        sized_expr = (
            F.countDistinct(F.struct(F.col("__key"), day))
            if keyed
            else F.countDistinct(day)
        )
        sized = box["df"].agg(sized_expr.alias("n")).collect()[0]
        if sized["n"] > self._MIRROR_MAX_ROWS:
            return None
        gcols = ([F.col("__key")] if keyed else []) + [day.alias("__sec")]
        g = (
            box["df"]
            .groupBy(*gcols)
            .agg(*self._union_agg_exprs(), F.count(F.col(col)).alias("__n"))
            .persist()
        )
        try:
            scol = g.columns[2 if keyed else 1]
            gsized = g.agg(
                F.count(F.lit(1)).alias("n"), mirror_bytes(scol).alias("b")
            ).collect()[0]
            if gsized["n"] == 0 or not self._mirror_fits(gsized["n"], gsized["b"]):
                return None
            return g.collect()
        finally:
            g.unpersist()

    # ------------------------------------------------ the four entry points
    def _framed_range(self, col: str, a: int, b: int, key=_NO_ASK):
        """``(framed_blob, n)`` for the sketches intersecting ``[a, b)``,
        optionally one key partition (same-type equality — the caller's
        :meth:`_key_gate` vouched; ``key=None`` is the NULL partition,
        matching ``eqNullSafe``) — or None past the size caps. ``n`` is
        the RAW non-NULL frame count in range, so the callers' empty-range
        semantics (0 / NULL-per-rank) are decided on the same numbers on
        every level. Day-aligned ranges frame the day level (r12); a
        keyed ask slices ONLY its own key's days (r12 review: nothing
        O(keys × days) per ask)."""
        box = self._mirror_box()
        m = self._bytes_mirror(col, box)
        keyed = key is not SketchRetention._NO_ASK
        lv = None
        if keyed == (self.key_column is not None) and self._tier_serves_range(
            box, a, b
        ):
            lv = self._level(col, box, _KEY_DAY if keyed else "day")
        if lv is not None:
            lo, hi = lv.spans.get(key, (0, 0)) if keyed else (0, None)
            idx = self._select(box, lv, a, b, lo, hi)
        else:
            lv = self._raw_level(m)
            if lv is None:
                return None
            idx = self._select(box, lv, a, b)
            if keyed:
                idx = [i for i in idx if lv.keys[i] == key]
        _cells, counts, _fcounts, frames = self._frame(lv, idx, repeat(None))
        if not self._fits(lv, frames):
            return None
        return self._pack(frames), sum(counts)

    #: Job-path default bounds for one-sided grouped restrictions — the
    #: exact literals the families' *_by forms substitute ('1970-01-01' /
    #: '9999-01-01'), resolved once so the driver math cannot drift.
    _OPEN_START_SEC = 0
    _OPEN_END_SEC = 253_370_764_800  # epoch of '9999-01-01'

    def _resolve_open_bounds(self, start, end):
        """``(a, b)`` epoch bounds for an optionally-one-sided grouped
        restriction — ``(None, None)`` when no filter applies at all
        (matching the job path), ``False`` when a given bound cannot
        resolve job-equivalently (the caller falls back). ONE copy for
        the time-grouped and key-grouped gates (r11 review pass 8)."""
        if start is None and end is None:
            return None, None
        a = self._OPEN_START_SEC if start is None else self._epoch_bound(start)
        b = self._OPEN_END_SEC if end is None else self._epoch_bound(end)
        if a is None or b is None:
            return False
        return a, b

    def _cells(self, lv: Level, idx: list, cids: list):
        """``(cells, framed_blob, counts)`` of one grouped framing (blob
        layout: :meth:`_pack` with per-cell frame counts), or None past
        the size caps."""
        cells, counts, fcounts, frames = self._frame(lv, idx, cids)
        if not self._fits(lv, frames):
            return None
        return cells, self._pack(frames, fcounts), counts

    def _grouped_cells(self, col, granularity, start, end, keyed_ask=False):
        """The grouped direct-ask gate (r11 — approx_*_by's economics):
        ``(bucket_secs, framed_blob, counts)`` when the series can answer
        from the driver, else None (job path). ``bucket_secs`` are the
        ascending occupied cells over the (optionally restricted) range;
        ``counts[i]`` is cell i's raw non-NULL sketch count (see
        :meth:`_frame`). Day-composable granularities over full spans or
        :meth:`_tier_serves_range` ranges frame the day level, and
        coarser-than-day ones climb to their rung when the bounds are rung
        cell boundaries; an over-cap raw mirror answers only from those.
        Exotic date_trunc levels, unresolvable bounds, keyed asks,
        shim-less/non-UTC sessions, and over-cap framings fall back —
        correct either way, just the ~200 ms job floor. Granularity
        VALIDATION (`_check_granularity`) is the caller's job: it must
        raise on both paths, never route-dependently."""
        if keyed_ask or self._sketch_ops() is None:
            return None
        if not isinstance(granularity, int):
            from ..functions.timestamps import (
                CALENDAR_GRANULARITIES,
                GRANULARITIES,
            )

            g = str(granularity).lower()
            if g not in GRANULARITIES and g not in CALENDAR_GRANULARITIES:
                return None  # exotic date_trunc level: job path owns it
            granularity = g
        bounds = self._resolve_open_bounds(start, end)
        if bounds is False:
            return None
        a, b = bounds
        box = self._mirror_box()
        # re-validate tiling against THE BOX's tiers (r11 review pass 3):
        # the caller's up-front _check_granularity read live self.tiers,
        # and a compaction completing in between would otherwise hand a
        # fine granularity a coarse mirror — truncating 6h buckets into
        # hourly cells is a silently wrong distribution. Raises like the
        # job path would under the box's state.
        self._check_granularity(granularity, start, tiers=box["tiers"])
        m = self._bytes_mirror(col, box)
        lv = None
        if self._tier_granularity_ok(granularity) and (
            a is None or self._tier_serves_range(box, a, b)
        ):
            lv = self._level(col, box, "day")
            if (
                lv is not None
                and granularity not in ("day", self._TIER_SECONDS)
                and (a is None or self._rung_serves_bounds(granularity, a, b))
            ):
                lv = self._level(col, box, granularity) or lv
        lv = lv or self._raw_level(m)
        if lv is None:
            return None
        idx = self._select(box, lv, a, b)
        return self._cells(lv, idx, self._cell_ids(granularity, lv, idx))

    def _key_sortable(self) -> bool:
        """The keyed grouped gates: only key-column types whose collected
        Python values sort the way Spark sorts them ride (the same
        `_DIRECT_KEY_TYPES` set the keyed scalar gate uses — one type per
        column, no cross-type comparator subtleties) on a shim session;
        also refuses a hand-built handle without ``__key``."""
        if self.key_column is None or self._sketch_ops() is None:
            return False
        dtype = dict(self._df.dtypes).get("__key", "")
        return self._DIRECT_KEY_TYPES.get(dtype) is not None

    def _keyed_cells(self, col, start, end):
        """The PER-KEY grouped gate (the ``*_by_key`` dimensional forms):
        ``(key_values, framed_blob, counts)`` with keys in the job path's
        ``ORDER BY key`` order (ascending, NULL first — Spark's ASC
        default), else None. Full spans climb to the key-total rung
        (O(keys) frames, r13), full spans and :meth:`_tier_serves_range`
        ranges frame the (key, day) level (r12), the rest the raw mirror;
        over-cap mirrors, unresolvable bounds and :meth:`_key_sortable`
        refusals fall back. Blob layout and the batched ``*Grouped`` JVM
        ops are exactly :meth:`_grouped_cells`'s."""
        if not self._key_sortable():
            return None
        bounds = self._resolve_open_bounds(start, end)
        if bounds is False:
            return None
        a, b = bounds
        box = self._mirror_box()
        m = self._bytes_mirror(col, box)
        lv = None
        if a is None or self._tier_serves_range(box, a, b):
            lv = (a is None and self._level(col, box, "key")) or self._level(
                col, box, _KEY_DAY
            )
        lv = lv or self._raw_level(m)
        if lv is None:
            return None
        idx = self._key_sorted(lv, self._select(box, lv, a, b))
        return self._cells(lv, idx, self._cell_ids("key", lv, idx))

    def _keyed_pair_cells(self, col, r1, r2):
        """Per-key TWO-range framing (theta's ``retained_by_key`` shape):
        ``(key_values, framed_r1, framed_r2)`` with keys that have rows in
        EITHER range — the job path's ``f1|f2`` groupBy — in its ``ORDER
        BY key`` order, each key's frames split per range against ONE
        level snapshot (a row inside both ranges contributes to both,
        exactly like the ``WHEN(f1/f2)`` projections). Bounds are REQUIRED
        ``(start, end)`` pairs (the cohort ask has no open form); both
        day-sliceable → the (key, day) level. Gates as
        :meth:`_keyed_cells` — a key with only NULL frames on one side
        frames an empty cell there, which unions to the empty sketch
        (estimate 0) like the job path's all-NULL union."""
        if not self._key_sortable():
            return None
        spans = []
        for s, e in (r1, r2):
            a = self._epoch_bound(s)
            b = self._epoch_bound(e)
            if a is None or b is None:
                return None
            spans.append((a, b))
        box = self._mirror_box()
        m = self._bytes_mirror(col, box)
        lv = None
        if all(self._tier_serves_range(box, a, b) for a, b in spans):
            lv = self._level(col, box, _KEY_DAY)
        lv = lv or self._raw_level(m)
        if lv is None:
            return None
        sides = []
        for a, b in spans:
            idx = self._key_sorted(lv, self._select(box, lv, a, b))
            sides.append(self._frame(lv, idx, self._cell_ids("key", lv, idx)))
        if not self._fits(lv, sides[0][3] + sides[1][3]):
            return None
        ordered = sorted(set(sides[0][0]) | set(sides[1][0]), key=_null_first)
        blobs = []
        for cells, _counts, fcounts, frames in sides:
            per_key = dict(zip(cells, fcounts))
            blobs.append(self._pack(frames, [per_key.get(k, 0) for k in ordered]))
        return ordered, blobs[0], blobs[1]

    def _unpack_kll_cells(self, blob, cells, qs):
        """Decode a ``kllQuantiles*Grouped`` result: per cell one
        occupancy byte, then (when occupied) one big-endian value per
        rank — ONE copy of the wire format's read side shared by the
        time-grouped and key-grouped asks (r11 review pass 8). Returns a
        list of per-cell value lists (``None`` per rank when empty)."""
        import struct

        m = len(qs)
        code = "q" if self.suffix == "bigint" else "d"
        out = []
        off = 0
        for _ in cells:
            occ = blob[off]
            off += 1
            if occ:
                out.append(list(struct.unpack_from(f">{m}{code}", blob, off)))
                off += 8 * m
            else:
                out.append([None] * m)
        return out

    @staticmethod
    def _bucket_dt(sec: int):
        """Epoch seconds → the naive-UTC datetime a collected TIMESTAMP
        bucket equals on the pinned UTC session (the frequency family's
        probe-pinned conversion)."""
        from datetime import datetime, timezone

        return datetime.fromtimestamp(sec, tz=timezone.utc).replace(
            tzinfo=None
        )

    def _jdouble_array(self, vals):
        """Java ``double[]`` for rank/quantile argument lists (a handful
        of elements — the per-element gateway sets the grouped blob layout
        exists to avoid don't matter at this size)."""
        sc = self._df.sparkSession.sparkContext
        arr = sc._gateway.new_array(sc._jvm.double, len(vals))
        for i, v in enumerate(vals):
            arr[i] = float(v)
        return arr

    def _persist_meta(self) -> dict:
        """Ladder + freshness fields every family's ``save()`` meta must
        carry: a save/load cycle that dropped the stale mark would turn
        'refuse' into silent wrong answers on the standard streaming-
        recovery path (checkpoint → restart → load_indexes)."""
        return {
            "tiers": self.tiers,
            "stale_reason": getattr(self, "_stale_reason", None),
        }

    def _restore_meta(self, meta: dict) -> None:
        if meta.get("tiers"):
            self._tiers = [tuple(t) for t in meta["tiers"]]
        if meta.get("stale_reason"):
            self._stale_reason = meta["stale_reason"]

    # ------------------------------------------------------------- ladder
    @property
    def tiers(self) -> list[tuple[int, int]]:
        """Prefix compaction tiers ``[(end_sec, width)]`` — at most one
        entry (each compaction re-rolls the whole prefix), mirroring the
        Spark-backend wheel."""
        return getattr(self, "_tiers", [])

    @staticmethod
    def _epoch_sec(v) -> int | None:
        """Driver-side epoch seconds of a timestamp string/datetime (the
        same literal parser the engine uses — naive values are UTC, like
        the pinned session); None when unparseable."""
        if v is None:
            return None
        from ..functions.timestamps import parse_ts_literal

        lit = parse_ts_literal(str(v))
        return None if lit is None else lit.epoch_us // 1_000_000

    def _max_width_over(self, start=None, tiers=None) -> int:
        """Coarsest bucket width intersecting ``[start, ∞)`` — tiers are
        prefix spans, so only tiers ending AFTER the range start constrain
        an ask; a fine-granularity group-by over the uncompacted suffix
        stays answerable after the prefix compacts (the wheels'
        ``_max_width_in`` discipline). ``tiers`` overrides ``self.tiers``
        when the caller holds a coherent snapshot (the mirror box)."""
        sec = self._epoch_sec(start)
        # an open or unparseable start reads the whole table (conservative)
        return self._max_width_in(-(2**63) if sec is None else sec, tiers=tiers)

    def _width_expr(self) -> Column:
        """Per-row bucket width — the edge-inclusion slop the range
        filters need so a coarse bucket spanning the range start is still
        included whole."""
        out: Column = F.lit(self.bucket_seconds)
        # reversed: the FIRST matching tier (ascending ends) must win, so
        # earlier (coarser) tiers wrap outermost in the CASE chain
        for end, w in reversed(self.tiers):
            out = F.when(F.col("__sec") < F.lit(end), F.lit(w)).otherwise(out)
        return out

    def _bucket_expr(self, sec: Column) -> Column:
        """Tier-aware bucketing for ``merge_batch``: late rows landing in a
        compacted span bucket at the tier width."""
        out = sec if self.bucket_seconds == 1 else sec - (sec % self.bucket_seconds)
        # reversed: first matching tier wins (see _width_expr)
        for end, w in reversed(self.tiers):
            out = F.when(sec < F.lit(end), sec - (sec % F.lit(w))).otherwise(out)
        return out

    def _check_granularity(self, granularity, start=None, tiers=None) -> None:
        """Every stored bucket in the asked range must land whole in one
        output cell: the granularity must be tiled by the coarsest bucket
        width intersecting the range (``start=None`` = the whole table —
        conservative). A compacted span can never leak a wrong
        fine-grained distribution; a restriction to the fine suffix keeps
        fine group-bys answerable. ``tiers`` lets the direct path validate
        against ITS coherent box snapshot (r11 review pass 3: validating
        against live ``self.tiers`` and answering from the box lets a
        racing compaction slip a coarse bucket past a fine-granularity
        check)."""
        maxw = self._max_width_over(start, tiers)
        if isinstance(granularity, int):
            if granularity <= 0 or granularity % maxw:
                raise ValueError(
                    f"width {granularity!r} not tiled by {maxw}s buckets"
                )
            return
        g = str(granularity).lower()
        secs = _FIXED_GRAN_SECS.get(g, 86400)  # calendar: day-aligned
        if secs % maxw:
            raise ValueError(
                f"granularity {granularity!r} ({secs}s) not tiled by "
                f"{maxw}s buckets — compacted spans cannot split finer"
            )

    # --------------------------------------------------------- compaction
    def merge_batch(self, batch_df, time_column: str) -> None:
        """Merge a micro-batch of raw rows into the rollup — streaming
        maintenance. Serialized against :meth:`compact_before` under
        ``_mutate_lock`` (r11 review passes 3-4: a compaction racing a
        merge would publish a frame built from the PRE-merge state,
        silently dropping the batch's rows — and hoisting the wrapper
        here makes every family participate, including overrides). The
        body is :meth:`_merge_batch_locked`, shared by the sketch families
        and overridden by the frequency family."""
        from pyspark import StorageLevel

        with self._mutate_lock:
            self._merge_batch_locked(batch_df, time_column, StorageLevel)

    def compact_before(self, cutoff_sec: int, width: int) -> int:
        """Roll buckets older than ``cutoff_sec`` into ``width``-second
        buckets — one re-aggregation job over the cached rollup (sketch
        unions are exact algebra, so estimates over compacted spans match a
        fresh coarse build bit-for-bit within the pinned error bounds).
        Returns rows reclaimed. Repeated calls with growing cutoffs
        implement the hour→day→week ladder, bounding rollup rows (and
        persisted sidecar size) on endless streams."""
        from pyspark import StorageLevel

        with self._mutate_lock:
            return self._compact_before_locked(cutoff_sec, width, StorageLevel)

    def _compact_before_locked(self, cutoff_sec: int, width: int, StorageLevel) -> int:
        self.check_compact(cutoff_sec, width)
        cutoff = cutoff_sec - (cutoff_sec % width)
        if width == self.bucket_seconds and not self.tiers:
            return 0
        old = self._df
        in_span = F.col("__sec") < cutoff
        before = old.filter(in_span).count()
        if before == 0:
            return 0
        gcols = [(F.col("__sec") - (F.col("__sec") % width)).alias("__sec")]
        if self.key_column is not None:
            gcols.append(F.col("__key"))
        coarse = old.filter(in_span).groupBy(*gcols).agg(*self._union_agg_exprs())
        merged = (
            coarse.unionByName(old.filter(~in_span).select(*coarse.columns))
            .coalesce(_CACHE_PARTITIONS)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        after = merged.filter(in_span).count()  # also materializes the cache
        # Atomic (frame, tiers, box) publication under the lock
        # _mirror_box holds around its read-check-create (r11 review
        # passes 1-2): ordering tricks cannot make a two-attribute pair
        # coherent against a reader preempted between the reads, and a
        # pre-published box can be clobbered by a racing identity-mismatch
        # rebuild. With both sides serialized, every direct ask observes
        # either the complete old state or the complete new one. The
        # published box is the new mirror holder (m=None collects
        # lazily) — no _drop_mirror, which would discard the pairing.
        # (The JOB path's _restrict still reads _df and tiers unlocked —
        # the pre-existing r10 exposure: at most the ONE ask whose filter
        # build lands inside this with-block can mis-pair them, and its
        # answer cannot persist — it memoizes into the pre-invalidate
        # dict, which the invalidate_asks below retires. Closing it fully
        # would thread a locked snapshot through every family's
        # _restrict; documented instead, matching the job path's
        # bounded-staleness contract.)
        new_tiers = [(cutoff, width)]
        with self._publish_lock:
            self._df = merged
            self._tiers = new_tiers
            self._mirror_ref = {
                "df": merged,
                "tiers": list(new_tiers),
                "m": None,
            }
        if not self._detach_shared():
            old.unpersist()
        self.invalidate_asks()
        return before - after


def load_rollup(cls, spark, path: str):
    """Inverse of :meth:`SketchRetention.save` for the sketch family
    ``cls``: read the parquet sketch table back into executor cache.
    Estimates are identical after reload — the sketches are the state, not
    a derived view (KLL query-time merges stay randomized, inside the same
    rank bound)."""
    from pyspark import StorageLevel

    with open(os.path.join(path, cls._SIDECAR)) as f:
        meta = json.load(f)
    df = (
        spark.read.parquet(path)
        .coalesce(_CACHE_PARTITIONS)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    r = cls(
        df,
        meta["column"],
        meta["bucket_seconds"],
        *(meta[name] for name in cls._CONFIG),
        key_column=meta.get("key_column"),
    )
    r._rollup_rows = df.count()  # also materializes the cache
    r._restore_meta(meta)
    r._warm_mirror(r._STATE)  # no-op on stale loads / shim-less sessions
    return r
