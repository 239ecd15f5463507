"""Build + wire the Catalyst shim (``jvm/UwheelShim.scala``) so plain
``spark.sql(...)`` is wheel-accelerated — SURVEY.md §7.3.1's deferred Scala
path, the reference's drop-in optimizer-rule integration
(``datafusion-uwheel/src/lib.rs:843-869``).

Everything here uses only what the PySpark distribution ships: the bundled
``scala-compiler`` jar compiles the rule offline (no sbt, no network), and
``SparkSessionExtensions`` + session confs wire it in. The Python engine
remains the source of truth — :func:`register_count_rollup` exports a
wheel's ``(sec, cnt)`` buckets, :func:`register_agg_rollup` the combined
per-table ``(sec, cnt, vcnt_<c>, sum_<c>, min_<c>, max_<c>)`` view,
:func:`register_keyed_agg_rollup` per-value keyed views, and
:func:`register_dim_rollup` the partitioned family's ``(sec, key, states)``
view — pinning parquet root + time column + bucket width in
``spark.uwheel.shim.*`` confs; the JVM rule rewrites matching aggregate
plans against those views at optimization time: any mix of COUNT(*) /
COUNT(col) / SUM / MIN / MAX / AVG over registered columns, scalar or
grouped by ``date_trunc`` and/or the dim key, over full / half-open /
absent time ranges, with ``key = 'value'`` / ``key IN (...)`` restrictions
and exact ``COUNT(DISTINCT key)`` — the reference's R1–R5 + R9 family plus
category dimensions it cannot express. The streaming maintainer re-exports
(or revokes) the views after merges; ``unregister_table`` is the manual
revoke.

Constraint worth knowing: ``spark.sql.extensions`` and the driver classpath
must be set **before the JVM starts**, i.e. on the first SparkSession of the
process — an existing local SparkContext cannot adopt the rule. Demos/tests
therefore run in a subprocess (``examples/jvm_shim_demo.py``).

View backing: small rollups are driver LocalRelations (zero-I/O rewritten
plans); rollups past :data:`_MAX_LOCAL_ROWS` rows are written as parquet
tables and the view reads the file — the rewritten plan's ``sec`` filter
prunes row groups, so probes stay tiny while the driver never embeds
millions of buckets into every plan (the 100x-scale hazard of an
all-LocalRelation design).
"""

from __future__ import annotations

import glob
import os
import subprocess

__all__ = [
    "build_shim_jar",
    "shim_builder_confs",
    "register_count_rollup",
    "register_agg_rollup",
    "register_keyed_agg_rollup",
    "register_dim_rollup",
    "unregister_table",
    "EXTENSIONS_CLASS",
]

EXTENSIONS_CLASS = "io.uwheel.spark.UwheelExtensions"

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SRC = os.path.join(_REPO, "jvm", "UwheelShim.scala")
_DEFAULT_JAR = os.path.join(_REPO, "jvm", "uwheel-shim.jar")

#: Rollup views at or below this many rows stay driver-side LocalRelations
#: (zero-I/O probes); above it they are written as parquet tables instead —
#: a LocalRelation is embedded into EVERY rewritten plan, so a
#: second-granularity multi-year wheel (~31 M buckets, x key values for dim
#: views) would be a driver-memory and plan-size hazard at the 100x scale
#: target. 64 Ki rows ≈ 18 hours of second buckets ≈ a few MB — safely
#: below any plan-size concern, while parquet-backed views keep probes
#: cheap via row-group min/max pruning on `sec`.
_MAX_LOCAL_ROWS = 65536

#: Rows per parquet row group for file-backed views: stats-based pruning
#: granularity (~18 h of second buckets per group).
_ROW_GROUP = 65536


def _register_view(spark, engine, name, table) -> None:
    """Publish a rollup view: LocalRelation for small tables, a
    parquet-backed table above :data:`_MAX_LOCAL_ROWS` rows (the Scala rule
    reads either through ``session.table``; a file-backed view's pruning
    ``Filter(sec ...)`` pushes into the parquet scan, so probes read only
    the boundary row groups). Parquet files are versioned per export —
    streaming re-exports write a fresh file, re-point the view, and retire
    versions older than N-1 (the immediately previous file survives one
    extra cycle so in-flight scans of the prior view complete)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    limit = getattr(engine, "_shim_max_local_rows", None)
    if limit is None:
        limit = _MAX_LOCAL_ROWS
    if table.num_rows <= limit:
        spark.createDataFrame(table).createOrReplaceTempView(name)
        return
    root = getattr(engine, "_shim_storage_dir", None)
    if root is None:
        import tempfile

        root = engine._shim_storage_dir = tempfile.mkdtemp(
            prefix=f"uwheel_shim_{engine.name}_"
        )
    versions = getattr(engine, "_shim_view_versions", None)
    if versions is None:
        versions = engine._shim_view_versions = {}
    v = versions.get(name, 0) + 1
    versions[name] = v
    # The view reads one specific versioned FILE (not the directory), so a
    # refresh is genuinely atomic: write v{N}, re-point the temp view, and
    # only then retire stale versions — keeping v{N-1} on disk until the
    # NEXT export so shim queries planned against the previous view finish
    # their scan instead of hitting FileNotFoundException mid-swap.
    vdir = os.path.join(root, name)
    os.makedirs(vdir, exist_ok=True)
    path = os.path.join(vdir, f"v{v}.parquet")
    keep = {path, os.path.join(vdir, f"v{v - 1}.parquet")}
    pq.write_table(table, path, row_group_size=_ROW_GROUP)
    # read with the schema just written: without it Spark runs a job to
    # infer the schema from the file footer on every export
    schema = from_arrow_schema(table.schema)
    spark.read.schema(schema).parquet(path).createOrReplaceTempView(name)
    for old in glob.glob(os.path.join(vdir, "v*.parquet")):
        if old not in keep:
            try:
                os.remove(old)
            except OSError:
                pass


def pyspark_jars_dir() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def build_shim_jar(out_jar: str = _DEFAULT_JAR, force: bool = False) -> str:
    """Compile the shim with the PySpark-bundled Scala compiler and package
    it as a jar. Cached: skipped when the jar is newer than the source."""
    if (
        not force
        and os.path.exists(out_jar)
        and os.path.getmtime(out_jar) >= os.path.getmtime(_SRC)
    ):
        return out_jar
    jars = pyspark_jars_dir()
    java_home = os.environ.get("JAVA_HOME", "")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    jar_tool = os.path.join(java_home, "bin", "jar") if java_home else "jar"
    classes = out_jar + ".classes"
    os.makedirs(classes, exist_ok=True)
    cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    subprocess.run(
        [
            java,
            "-cp",
            cp,
            "scala.tools.nsc.Main",
            "-classpath",
            cp,
            "-d",
            classes,
            _SRC,
        ],
        check=True,
        capture_output=True,
        text=True,
    )
    subprocess.run(
        [jar_tool, "cf", out_jar, "-C", classes, "."],
        check=True,
        capture_output=True,
        text=True,
    )
    return out_jar


def shim_builder_confs(jar: str | None = None) -> dict[str, str]:
    """Builder configs enabling the shim — apply them to the FIRST session of
    the process (the extensions class loads when the JVM starts)."""
    jar = jar or build_shim_jar()
    return {
        "spark.sql.extensions": EXTENSIONS_CLASS,
        "spark.driver.extraClassPath": jar,
        "spark.jars": jar,
    }


def _pin_table_confs(spark, engine, wheel) -> None:
    """Pin the per-table shim metadata (parquet root, time column, bucket
    width). The Scala rule only rewrites ranges aligned to ``bucket_sec`` —
    without it a coarse-granularity wheel would answer second-aligned asks
    it cannot actually tile."""
    path = getattr(engine, "source_path", None)
    if path is None:
        raise ValueError(
            "engine has no source_path — the shim recognizes tables by their "
            "parquet root; construct WheelEngine from a path"
        )
    if not wheel.complete:
        raise ValueError(
            "shim rollups require a complete (un-time_range-restricted) "
            "wheel: the rewrite answers any aligned range, which is only "
            "sound when the wheel proves rows outside its span don't exist"
        )
    existing = spark.conf.get("spark.uwheel.shim.tables", "")
    tables = [t for t in existing.split(",") if t.strip()]
    # The rule recognizes tables by scan ROOT (views are stripped before it
    # runs), so two engines over one parquet root are indistinguishable at
    # plan time and the later registration would silently shadow the first.
    norm = os.path.abspath(path).rstrip("/")
    for t in tables:
        if t == engine.name:
            continue
        other = spark.conf.get(f"spark.uwheel.shim.{t}.path", "")
        if other.rstrip("/") == norm:
            raise ValueError(
                f"parquet root {norm!r} is already registered with the shim "
                f"as table {t!r} — one engine per root (the optimizer rule "
                "matches scans by path, not view name)"
            )
    if engine.name not in tables:
        tables.append(engine.name)
    # NULL-ts attestation: the rollup build drops NULL-ts rows, and a query
    # with NO time bounds (landmark shape) would silently miss them — a
    # bounded scan drops them too, an unbounded scan does not. Probe the
    # source ONCE per engine (a column-pruned one-row scan) and pin the
    # result; the JVM rule skips absent-bounds rewrites unless it is true.
    nonnull = getattr(engine, "_shim_ts_nonnull", None)
    if nonnull is None:
        from pyspark.sql import functions as F

        nonnull = engine._shim_ts_nonnull = not engine.df.filter(
            F.col(engine.time_column).isNull()
        ).head(1)
    spark.conf.set(
        f"spark.uwheel.shim.{engine.name}.ts_nonnull", str(bool(nonnull)).lower()
    )
    spark.conf.set("spark.uwheel.shim.tables", ",".join(tables))
    spark.conf.set(f"spark.uwheel.shim.{engine.name}.path", os.path.abspath(path))
    spark.conf.set(f"spark.uwheel.shim.{engine.name}.time_col", engine.time_column)
    # a tiered (compacted) wheel pins its COARSEST width: the rule cannot
    # consult the tier map, and coarse alignment is sound everywhere
    # (coarse bounds never split a finer bucket)
    spark.conf.set(
        f"spark.uwheel.shim.{engine.name}.bucket_sec",
        str(getattr(wheel, "coarsest_width", wheel.bucket_seconds)),
    )


def unregister_table(spark, name: str) -> bool:
    """Remove ``name`` from the shim's table list — the rule stops matching
    its scans immediately (views and per-table confs stay parked; a later
    re-registration reclaims them). Returns whether the table was listed.
    This is the manual form of the staleness revoke the streaming
    maintainer applies automatically."""
    tables = [
        t
        for t in spark.conf.get("spark.uwheel.shim.tables", "").split(",")
        if t.strip()
    ]
    if name not in tables:
        return False
    spark.conf.set(
        "spark.uwheel.shim.tables", ",".join(t for t in tables if t != name)
    )
    return True


def _pin_storage_prefs(engine, storage_dir, max_local_rows) -> None:
    """Record per-engine view-publishing preferences so streaming
    re-exports (:mod:`.streaming.maintenance`) reuse them."""
    if storage_dir is not None:
        engine._shim_storage_dir = storage_dir
    if max_local_rows is not None:
        engine._shim_max_local_rows = max_local_rows


def register_count_rollup(
    spark, engine, storage_dir: str | None = None,
    max_local_rows: int | None = None,
) -> str:
    """Export ``engine``'s COUNT wheel as the shim's rollup view and pin the
    table metadata in session confs. Returns the view name.

    The view holds one ``(sec, cnt)`` row per occupied bucket — a driver
    LocalRelation while small, a parquet-backed table past
    :data:`_MAX_LOCAL_ROWS` rows (``max_local_rows`` overrides; the
    rewritten plan then prunes row groups on ``sec`` instead of embedding
    millions of buckets into every plan). Snapshot semantics: re-register
    after streaming maintenance merges to refresh the exported buckets."""
    import pyarrow as pa

    from .operators.lookup import STAR_AGGREGATION_ALIAS

    _pin_storage_prefs(engine, storage_dir, max_local_rows)
    engine._ensure_base()
    w = engine.count_wheels[STAR_AGGREGATION_ALIAS]
    name = f"__uwheel_rollup_{engine.name}"
    table = pa.table(
        {
            "sec": pa.array(w.secs.astype("int64")),
            "cnt": pa.array(w.cnt.astype("int64")),
        }
    )
    _register_view(spark, engine, name, table)
    _pin_table_confs(spark, engine, w)
    return name


def _arrow_types(sql_type: str):
    """value_sql_type → (arrow type for min/max, arrow type for sum).
    Sum types follow Spark's aggregate typing (SUM over any integral is
    BIGINT; SUM over FLOAT/DOUBLE is DOUBLE) so the rewritten
    Sum(rollup.sum) carries the exact result type of the original
    Sum(col)."""
    import pyarrow as pa

    table = {
        "TINYINT": (pa.int8(), pa.int64()),
        "SMALLINT": (pa.int16(), pa.int64()),
        "INT": (pa.int32(), pa.int64()),
        "BIGINT": (pa.int64(), pa.int64()),
        "FLOAT": (pa.float32(), pa.float64()),
        "DOUBLE": (pa.float64(), pa.float64()),
    }
    return table.get(sql_type)


def register_agg_rollup(
    spark, engine, column: str, storage_dir: str | None = None,
    max_local_rows: int | None = None,
) -> str:
    """Export ``engine``'s aggregate wheel for ``column`` into the shim's
    combined per-table rollup view ``__uwheel_rollup_<table>__agg``
    (columns ``sec, cnt`` plus ``vcnt_<c>, sum_<c>, min_<c>, max_<c>`` per
    registered column) and register the column in
    ``spark.uwheel.shim.<table>.agg_cols``. After this, plain ``spark.sql``
    aggregates — any mix of COUNT(*) / COUNT(col) / SUM / MIN / MAX / AVG
    over ANY registered columns, scalar or GROUP BY date_trunc, with
    aligned range bounds — are rewritten to merge the exported buckets
    instead of scanning the table (the reference's R1–R4 family through the
    host optimizer). One view serves all columns because every unfiltered
    wheel of a table shares the same occupied-bucket domain, so
    mixed-column aggregates need no view joins.

    NULL discipline: ``sum``/``min``/``max`` are exported as NULL where the
    bucket's non-null count is zero, so the JVM-side SUM/MIN/MAX skip them
    and an all-NULL range answers NULL — identical to the delegate scan.
    Column types mirror the indexed column's own Spark types, so result
    schemas match the un-rewritten plan exactly (BIGINT sums stay exact
    int64). Snapshot semantics: re-register after maintenance merges."""
    import numpy as np
    import pyarrow as pa

    from .operators.lookup import STAR_AGGREGATION_ALIAS

    _pin_storage_prefs(engine, storage_dir, max_local_rows)
    try:
        w = engine.agg_wheels[(column, STAR_AGGREGATION_ALIAS)]
    except KeyError:
        raise KeyError(
            f"no unfiltered aggregate wheel for {column!r} — call "
            f"engine.build_index({column!r}) first"
        ) from None
    if w.sum_ is None or w.min_ is None or w.max_ is None:
        raise ValueError(
            f"wheel for {column!r} was built with a state subset; the shim "
            "view exports sum/min/max/vcnt — build with aggs=None"
        )
    if _arrow_types(w.value_sql_type.upper()) is None:
        raise ValueError(
            f"unsupported column type for the shim: {w.value_sql_type}"
        )
    registered = getattr(engine, "_shim_agg_wheels", None)
    if registered is None:
        registered = engine._shim_agg_wheels = {}
    base = next(iter(registered.values()), (column, w))[1]
    if not np.array_equal(w.secs, base.secs):
        raise ValueError(
            "wheel bucket domain diverged from previously registered "
            "columns — rebuild the indexes from the same table snapshot"
        )
    #: lowered name → (original name, wheel): the view/conf protocol is
    #: lowercase, re-registration (streaming refresh) needs the original.
    registered[column.lower()] = (column, w)
    name = f"__uwheel_rollup_{engine.name}__agg"
    _export_agg_view(spark, engine, registered, name)
    _pin_table_confs(spark, engine, w)
    conf_key = f"spark.uwheel.shim.{engine.name}.agg_cols"
    spark.conf.set(conf_key, ",".join(sorted(registered)))
    return name


def _export_agg_view(spark, engine, wheels: dict, name: str) -> None:
    """Export a combined rollup view from ``{lowered: (orig, wheel)}`` —
    ``sec, cnt`` plus per-column ``vcnt_/sum_/min_/max_`` states."""
    import numpy as np
    import pyarrow as pa

    def masked(wheel, arr, typ):
        # All-NULL buckets store monoid identities in the wheel; export them
        # as real Arrow NULLs so the JVM-side SUM/MIN/MAX skip them. Zero
        # the masked slots first: int identities (±int64 extremes) would
        # overflow a narrower arrow cast even though they're never read.
        vcnt = np.asarray(
            wheel.vcnt_ if wheel.vcnt_ is not None else wheel.cnt, dtype="int64"
        )
        null_mask = vcnt == 0
        vals = np.where(null_mask, 0, arr)
        return pa.array(vals, mask=null_mask).cast(typ)

    w = next(iter(wheels.values()))[1]
    # pa.Table → Spark avoids the pandas conversion path, whose nullable
    # dtypes degrade to NaN when the session has Arrow disabled.
    cols: dict = {
        "sec": pa.array(w.secs.astype("int64")),
        "cnt": pa.array(w.cnt.astype("int64")),
    }
    for c, (_orig, cw) in sorted(wheels.items()):
        val_type, sum_type = _arrow_types(cw.value_sql_type.upper())
        cols[f"vcnt_{c}"] = pa.array(
            np.asarray(cw.vcnt_ if cw.vcnt_ is not None else cw.cnt, dtype="int64")
        )
        cols[f"sum_{c}"] = masked(cw, cw.sum_, sum_type)
        cols[f"min_{c}"] = masked(cw, cw.min_, val_type)
        cols[f"max_{c}"] = masked(cw, cw.max_, val_type)
        if cw.sumsq_ is not None:
            # sum-of-squares state (always float64 — int² overflows int64):
            # serves STDDEV/VARIANCE through the rule; subset builds
            # without it simply leave those shapes to the scan
            cols[f"sumsq_{c}"] = masked(cw, cw.sumsq_, pa.float64())
    _register_view(spark, engine, name, pa.table(cols))


def register_keyed_agg_rollup(
    spark, engine, column: str, filter: str,
    storage_dir: str | None = None, max_local_rows: int | None = None,
) -> str:
    """Export a KEYED aggregate wheel (``engine.build_index(column,
    filter="key = 'value'")``) as a shim view, so plain ``spark.sql``
    queries carrying the same single string-equality conjunct alongside
    their time range — ``WHERE key = 'value' AND ts >= ... AND ts < ...``,
    scalar or GROUP BY date_trunc — are answered from the keyed rollup (the
    reference's composite-filter keyed match, ``lib.rs:310-321``, through
    the host optimizer).

    Scope: exactly one ``col = 'string'`` equality (the dimensional-enum
    case; the JVM side matches the literal VALUE, and non-string literal
    rendering is type-dependent enough to mis-match, so other shapes raise
    here instead of silently never matching). Multiple values of the same
    or different key columns register as separate views; queries with
    unregistered values fall through to the scan."""
    import numpy as np

    from .plans.predicates import canonical_filter_key
    from .plans.sqlparse import parse_conjunction

    _pin_storage_prefs(engine, storage_dir, max_local_rows)
    conj = parse_conjunction(filter)
    if (
        len(conj) != 1
        or conj[0].op != "="
        or conj[0].value_kind != "string"
    ):
        raise ValueError(
            "shim keyed views support exactly one `col = 'value'` string "
            f"equality; got {filter!r}"
        )
    fk = canonical_filter_key(conj)
    try:
        w = engine.agg_wheels[(column, fk)]
    except KeyError:
        raise KeyError(
            f"no keyed wheel for ({column!r}, {filter!r}) — call "
            f"engine.build_index({column!r}, filter={filter!r}) first"
        ) from None
    if w.sum_ is None or w.min_ is None or w.max_ is None:
        raise ValueError(
            f"keyed wheel for {column!r} was built with a state subset; "
            "the shim view exports sum/min/max/vcnt — build with aggs=None"
        )
    if _arrow_types(w.value_sql_type.upper()) is None:
        raise ValueError(
            f"unsupported column type for the shim: {w.value_sql_type}"
        )
    keyed = getattr(engine, "_shim_keyed", None)
    if keyed is None:
        keyed = engine._shim_keyed = {}
    entry = keyed.setdefault(
        fk,
        {
            "col": conj[0].column.lower(),
            "value": str(conj[0].value),
            "filter": filter,
            "idx": len(keyed),
            "wheels": {},
        },
    )
    base = next(iter(entry["wheels"].values()), (column, w))[1]
    if not np.array_equal(w.secs, base.secs):
        raise ValueError(
            "keyed wheel bucket domain diverged from previously registered "
            "columns — rebuild the indexes from the same table snapshot"
        )
    entry["wheels"][column.lower()] = (column, w)
    name = f"__uwheel_rollup_{engine.name}__key{entry['idx']}"
    _export_agg_view(spark, engine, entry["wheels"], name)
    _pin_table_confs(spark, engine, w)
    pre = f"spark.uwheel.shim.{engine.name}.keyed"
    spark.conf.set(f"{pre}_count", str(len(keyed)))
    i = entry["idx"]
    spark.conf.set(f"{pre}.{i}.col", entry["col"])
    spark.conf.set(f"{pre}.{i}.value", entry["value"])
    spark.conf.set(f"{pre}.{i}.cols", ",".join(sorted(entry["wheels"])))
    return name


def register_dim_rollup(
    spark, engine, key_column: str, storage_dir: str | None = None,
    max_local_rows: int | None = None,
) -> str:
    """Export a partitioned wheel family
    (``engine.build_partitioned_index(col, partition_by=key_column)``) as
    the shim's dimensional view ``__uwheel_rollup_<table>__dim<i>`` —
    rows ``(sec, key, cnt, vcnt_<c>, sum_<c>, min_<c>, max_<c>)``, one per
    (bucket, key value) including NULL keys. Plain ``spark.sql``
    category group-bys then rewrite: ``GROUP BY key``, and the
    time × category dashboard shape ``GROUP BY date_trunc(g, ts), key``
    (either order), scalar aggregates included, with or without time
    bounds — the reference cannot express any of this (one filter per
    optimizer, ``lib.rs:76-77``). The family is key-complete, so the
    rewritten group-by produces exactly the scan's groups."""
    import numpy as np
    import pyarrow as pa

    _pin_storage_prefs(engine, storage_dir, max_local_rows)
    try:
        ps = engine.partition_sets[key_column.lower()]
    except KeyError:
        raise KeyError(
            f"no partitioned family for {key_column!r} — call "
            f"engine.build_partitioned_index(col, partition_by={key_column!r})"
            " first"
        ) from None
    fams = ps["wheels"]
    cols = sorted(
        {c for fam in fams.values() for c in fam if c is not None},
        key=str.lower,
    )
    ktype = ps["key_sql_type"].upper()
    if ktype == "STRING":
        key_arrow = pa.string()
    else:
        kt = _arrow_types(ktype)
        if kt is None:
            raise ValueError(f"unsupported key type for the shim: {ktype}")
        key_arrow = kt[0]
    secs_parts, key_vals, cnt_parts = [], [], []
    state_parts: dict = {
        c: {"vcnt": [], "sum": [], "min": [], "max": [], "sumsq": []} for c in cols
    }
    #: sumsq is exported only when EVERY family value's wheel carries it
    sumsq_ok: dict = {c: True for c in cols}
    masks: dict = {c: [] for c in cols}
    base_for_pin = None
    for v, fam in sorted(fams.items(), key=lambda kv: (kv[0] is None, str(kv[0]))):
        base = fam[None]
        base_for_pin = base_for_pin or base
        if not base.complete:
            raise ValueError(
                "shim dim views require a complete family — a time_range-"
                "restricted or stale build cannot claim the whole timeline"
            )
        secs_parts.append(base.secs.astype("int64"))
        cnt_parts.append(base.cnt.astype("int64"))
        key_vals.extend([v] * base.secs.size)
        for c in cols:
            w = fam.get(c)
            if w is None or w.sum_ is None or w.min_ is None or w.max_ is None:
                raise ValueError(
                    f"family value {v!r} lacks full states for {c!r} — "
                    "build the partitioned index with aggs=None"
                )
            if not np.array_equal(w.secs, base.secs):
                raise ValueError(
                    f"family value {v!r}: state wheel bucket domain diverged"
                )
            vc = np.asarray(
                w.vcnt_ if w.vcnt_ is not None else w.cnt, dtype="int64"
            )
            state_parts[c]["vcnt"].append(vc)
            state_parts[c]["sum"].append(np.asarray(w.sum_))
            state_parts[c]["min"].append(np.asarray(w.min_))
            state_parts[c]["max"].append(np.asarray(w.max_))
            if w.sumsq_ is not None:
                state_parts[c]["sumsq"].append(np.asarray(w.sumsq_))
            else:
                sumsq_ok[c] = False
            masks[c].append(vc == 0)
    arrays: dict = {
        "sec": pa.array(np.concatenate(secs_parts)),
        "key": pa.array(key_vals, type=key_arrow),
        "cnt": pa.array(np.concatenate(cnt_parts)),
    }
    for c in cols:
        cw = next(fam[c] for fam in fams.values() if c in fam)
        types = _arrow_types(cw.value_sql_type.upper())
        if types is None:
            raise ValueError(
                f"unsupported column type for the shim: {cw.value_sql_type}"
            )
        val_type, sum_type = types
        null_mask = np.concatenate(masks[c])

        def masked(parts, typ):
            vals = np.where(null_mask, 0, np.concatenate(parts))
            return pa.array(vals, mask=null_mask).cast(typ)

        lc = c.lower()
        arrays[f"vcnt_{lc}"] = pa.array(np.concatenate(state_parts[c]["vcnt"]))
        arrays[f"sum_{lc}"] = masked(state_parts[c]["sum"], sum_type)
        arrays[f"min_{lc}"] = masked(state_parts[c]["min"], val_type)
        arrays[f"max_{lc}"] = masked(state_parts[c]["max"], val_type)
        if sumsq_ok[c]:
            arrays[f"sumsq_{lc}"] = masked(state_parts[c]["sumsq"], pa.float64())
    dims = getattr(engine, "_shim_dims", None)
    if dims is None:
        dims = engine._shim_dims = {}
    entry = dims.setdefault(
        key_column.lower(), {"idx": len(dims), "key_column": key_column}
    )
    i = entry["idx"]
    name = f"__uwheel_rollup_{engine.name}__dim{i}"
    _register_view(spark, engine, name, pa.table(arrays))
    _pin_table_confs(spark, engine, base_for_pin)
    pre = f"spark.uwheel.shim.{engine.name}.dim"
    spark.conf.set(f"{pre}_count", str(len(dims)))
    spark.conf.set(f"{pre}.{i}.col", key_column.lower())
    spark.conf.set(f"{pre}.{i}.cols", ",".join(c.lower() for c in cols))
    return name
