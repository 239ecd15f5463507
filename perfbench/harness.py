"""One benchmark run: set-up, micro-batch replay and the dashboard read
loop (plus the corpus operators in the traced run), then the answer checks
and the metrics.

Both workloads run the same read window; they differ in whether writes
meet it:

* ``dashboard``: the engine is built over the whole table and the timed
  window sends only reads against it; nothing merges.
* ``ingest``: the engine is built over all but the last 18 hours, which
  are replayed as micro-batches merged inside the timed window between reads;
  each merge bumps the index epoch and empties the answer memo, and the
  panel is re-asked right after every merge, its answers recomputed (a
  cost class of its own, kept out of the panel's memo-hit latency).

The traced run adds a corpus phase (dedup clusters, fuzzy decontamination,
sequence packing) on a corpus with no wheel underneath.
"""

from __future__ import annotations

import math
import os
import random
import re
import statistics
import sys
import time

from perfbench import asks, checks, data, tracing

SETUPS = 2
PARITY_FAMILIES = 2
N_BATCHES = (data.DAYS * 24 - asks.BUILD_HOURS) // asks.BATCH_HOURS
DEDUP_MIN_JACCARD = 0.35
DECON_MIN_JACCARD = 0.5
PACK_TOKENS = 2048
CORPUS_OPS = ("dedup", "decon", "pack")
#: Runs of each corpus operator per benchmark run (median reported).
CORPUS_REPEATS = {"dedup": 1, "decon": 1, "pack": 3}
WARM_DOCS = 30
#: Days of the table the untimed warm-up build covers.
WARM_DAYS = 3

PY_EVAL = re.compile(r"(EvalPython|InPandas|InArrow)")

class Record:
    __slots__ = ("ask", "ns", "out", "kind", "epoch", "ok", "traced", "plan", "detail",
                 "refresh")

    def __init__(self, ask, epoch, traced):
        self.ask, self.epoch, self.traced = ask, epoch, traced
        self.ns, self.out, self.kind, self.ok, self.plan, self.detail = 0, None, "", True, "", None
        #: first ask after a merge inside the window, a cost class of its
        #: own: a sketch family's first (the rollup refreshes its driver
        #: mirror) and the panel re-ask (the merge emptied the answer memo)
        self.refresh = False


class Run:
    def __init__(self, spark, workdir: str, workload: str, seed: int, seconds: float,
                 traced: bool):
        self.spark, self.sc = spark, spark.sparkContext
        self.workdir, self.workload, self.seed = workdir, workload, seed
        self.seconds, self.traced = seconds, traced
        self.tracer = tracing.Tracer() if traced else None
        self.records: list[Record] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.setup_s: list[float] = []
        self.batch_ms: list[float] = []
        self.corpus_s: dict[str, list[float]] = {}
        self.corpus_layers: dict[str, dict] = {}
        self.op_failures = 0
        self.epoch = 0
        self.window_epoch = 0
        #: micro-batches replayed inside the window (none on ``dashboard``)
        self.n_batches = N_BATCHES if workload == "ingest" else 0
        self.index_bytes: list[int] = []
        self._uninstall = None
        #: sketch families asked since the last merge
        self.sketch_seen: set[str] = set()
        self._group = ""

    # ----------------------------------------------------------- helpers
    def fail(self, why: str, op: bool = True) -> None:
        """Record a failure; ``op`` counts it as a failed operation of its
        own (a failed ask is counted through its record instead)."""
        self.failures.append(why)
        self.op_failures += op

    def group(self, name: str) -> None:
        """Put the jobs that follow in group ``name``; a py4j round trip,
        so made only when the group changes."""
        if name != self._group:
            self.sc.setJobGroup(name, name)
            self._group = name

    def jobs(self, name: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(name))

    def job_names(self, group: str) -> list[str]:
        st = self.sc.statusTracker()
        return [info.name for j in self.jobs(group) if (job := st.getJobInfo(j))
                for s in job.stageIds if (info := st.getStageInfo(s))]

    def span(self, name):
        if self._uninstall is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name)

    def trace_on(self) -> bool:
        """Install the layer wrappers (traced run only); returns whether
        this call installed them."""
        if self.tracer is None or self._uninstall is not None:
            return False
        self._uninstall = tracing.install(self.tracer)
        return True

    def trace_off(self) -> None:
        if self._uninstall is not None:
            self._uninstall()
            self._uninstall = None

    # -------------------------------------------------------------- data
    def make_inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        full = data.events_table(self.seed)
        build_hours = asks.BUILD_HOURS if self.n_batches else data.DAYS * 24
        cut = pa.scalar((data.T0 + build_hours * 3600) * 1_000_000, pa.int64())
        ts_us = pc.cast(full["ts"], pa.int64())
        self.base = full.filter(pc.less(ts_us, cut))
        replay = full.filter(pc.greater_equal(ts_us, cut))
        self.events_dir = os.path.join(self.workdir, "events")
        data.write(self.base, os.path.join(self.events_dir, "part-base.parquet"))
        self.warm_events_dir = os.path.join(self.workdir, "warm-events")
        warm_cut = pa.scalar((data.T0 + WARM_DAYS * 86400) * 1_000_000, pa.int64())
        data.write(full.filter(pc.less(ts_us, warm_cut)),
                   os.path.join(self.warm_events_dir, "part-base.parquet"))
        self.batches = []
        if self.n_batches:
            # batch membership: event-time window, late rows held back one batch
            rng = random.Random(self.seed * 17 + 3)
            rts = replay["ts"].cast(pa.int64()).to_pylist()
            window_us = asks.BATCH_HOURS * 3600 * 1_000_000
            plan = asks.replay_plan(self.seed, self.n_batches)
            pos_of = {w: (pos, late_to) for pos, (w, late_to) in enumerate(plan)}
            deliver = []
            for t in rts:
                pos, late_to = pos_of[min(self.n_batches - 1, (t - cut.as_py()) // window_us)]
                deliver.append(late_to if rng.random() < asks.LATE_SHARE else pos)
            deliver = pa.array(deliver)
            self.batches = [replay.filter(pc.equal(deliver, i))
                            for i in range(self.n_batches)]
        if self.traced:
            self.corpus = data.corpus_table(self.seed)
            self.corpus_path = data.write(self.corpus,
                                          os.path.join(self.workdir, "docs.parquet"))
            self.warm_corpus_path = data.write(self.corpus.slice(0, WARM_DOCS),
                                               os.path.join(self.workdir, "warm-docs.parquet"))

    # ------------------------------------------------------------- setup
    def build_engine(self, name: str, root: str):
        from datafusion_uwheel_spark import WheelEngine
        from datafusion_uwheel_spark.jvmshim import (
            register_agg_rollup,
            register_count_rollup,
            register_dim_rollup,
        )

        eng = WheelEngine(self.spark, name, root, time_column="ts", min_max_columns=("value",))
        eng.build_index("value")
        eng.build_partitioned_index("value", partition_by="event_type")
        eng.build_sketch_indexes(distinct=("user_id",), quantile=("value",), theta=("user_id",))
        register_count_rollup(self.spark, eng)
        register_agg_rollup(self.spark, eng, "value")
        register_dim_rollup(self.spark, eng, "event_type")
        return eng

    @staticmethod
    def release(eng) -> None:
        for rollups in (eng.distinct_rollups, eng.quantile_rollups, eng.theta_rollups):
            for r in rollups.values():
                r.unpersist()

    def warm_up(self) -> None:
        """Discarded asks (one per door and family), so codegen and the
        shim's and sketches' JVM classes are warm before the read window;
        in the traced run also a tiny packing pass that starts the Python
        workers for the corpus phase. Nothing here is recorded or checked.
        The set-ups and merges before it have already run every build and
        merge code path once."""
        gen = asks.Generator(self.seed + 10_000)
        self.group("warm-up")
        for door, families in (("rows", asks.ROWS_FAMILIES), ("df", asks.DF_FAMILIES),
                               ("shim", asks.SHIM_FAMILIES[:1]),
                               ("sketch", asks.SKETCH_FAMILIES), ("delegate", ("residual",))):
            for fam in families:
                self.ask_once(self.eng, self.cat, gen.ask(door, fam))
        for a in asks.panel(self.seed):  # the window's panel refreshes hit the memo
            self.ask_once(self.eng, self.cat, a)
        if self.traced:  # the first Python UDF of the session starts the Python workers
            self.corpus_pack(self.spark.read.parquet(self.warm_corpus_path))

    def warm_setup(self) -> None:
        """One untimed build over the table's first ``WARM_DAYS`` days, so
        the timed set-ups run on a JVM whose build code paths are loaded
        and compiled, not on a cold one."""
        self.group("warm-up")
        self.release(self.build_engine("events", self.warm_events_dir))

    def setup(self):
        """Build the engine ``SETUPS`` times; the last engine serves the
        run."""
        self.group("setup")
        eng = None
        for _ in range(SETUPS):
            if eng is not None:
                self.release(eng)
            t0 = time.perf_counter()
            with self.span("setup"):
                eng = self.build_engine("events", self.events_dir)
            self.setup_s.append(time.perf_counter() - t0)
            self.attempted += 1
        self.index_bytes.append(eng.index_usage_bytes())
        from datafusion_uwheel_spark import WheelCatalog

        cat = WheelCatalog(self.spark)
        cat.adopt(eng)
        self.eng, self.cat = eng, cat

    # ------------------------------------------------------------ ingest
    def merge_next(self, maint) -> None:
        """Land the next micro-batch as a parquet file in the table's
        directory, merge it (timed: the freshness lag), and re-point the
        table's view so delegated scans see what the wheels see."""
        from datafusion_uwheel_spark.sources import read_parquet

        i = self.epoch
        self.group("ingest")
        path = data.write(self.batches[i], os.path.join(self.events_dir, f"part-b{i}.parquet"))
        batch = read_parquet(self.spark, path)
        self.attempted += 1
        installed = self.trace_on()
        t0 = time.perf_counter()
        try:
            with self.span("batch"):
                maint.merge_batch(batch, i)
            self.batch_ms.append((time.perf_counter() - t0) * 1e3)
        except Exception as e:  # recorded as a failed operation
            self.fail(f"merge_batch {i}: {e!r}")
        finally:
            if installed:
                self.trace_off()
        self.epoch = i + 1
        self.sketch_seen.clear()
        read_parquet(self.spark, self.events_dir).createOrReplaceTempView("events")
        self.index_bytes.append(self.eng.index_usage_bytes())

    # ------------------------------------------------------------- reads
    def ask_once(self, eng, cat, a: asks.Ask, rec: Record | None = None):
        """Send one ask through its door; returns the answer. Only the
        door call and the collect are inside the timer."""
        spark = self.spark
        t0 = time.perf_counter_ns()
        if a.door in ("rows", "hot", "delegate"):
            out = eng.sql_rows(a.sql)
            kind = eng.last_route.kind
        elif a.door == "df":
            if a.family == "cte":
                out = cat.sql(a.sql).collect()
                kind = cat.last_route.kind
                if rec is not None:
                    rec.detail = cat.last_route.detail.get("evaluated")
            else:
                out = eng.sql(a.sql).collect()
                kind = eng.last_route.kind
        elif a.door == "shim":
            df = spark.sql(a.sql)
            out = df.collect()
            kind = ""
        else:
            fn = {"distinct": eng.approx_distinct, "quantile": eng.approx_quantile,
                  "retained": eng.approx_retained}[a.family]
            out = fn(*a.args)
            kind = ""
        ns = time.perf_counter_ns() - t0
        if rec is not None:
            rec.ns, rec.out, rec.kind = ns, out, kind
            if a.door == "shim":
                rec.plan = df._jdf.queryExecution().executedPlan().toString()
        return out

    def send(self, a: asks.Ask, traced: bool, refresh: bool = False) -> None:
        rec = Record(a, self.epoch, traced)
        rec.refresh = refresh
        if a.door == "sketch":
            rec.refresh = self.epoch > self.window_epoch and a.family not in self.sketch_seen
            self.sketch_seen.add(a.family)
        self.records.append(rec)
        self.attempted += 1
        # a group per door, so a burst of one door's asks sets it once;
        # sketch asks get a group each: the first ask of a family after a
        # merge may refresh the rollup's driver mirror with a Spark job
        self.group(f"sketch:{len(self.records) - 1}" if a.door == "sketch" else a.door)
        if traced:
            self.tracer.ask = len(self.records) - 1
        try:
            with self.span("door." + a.door):
                self.ask_once(self.eng, self.cat, a, rec)
        except Exception as e:
            rec.ok = False
            self.fail(f"{a.door}:{a.family} raised {e!r}", op=False)
        finally:
            if traced:
                self.tracer.ask = -1

    def ask_panel(self, panel, traced) -> None:
        """Re-ask the whole panel right after a merge inside the window."""
        for a in panel:
            self.send(a, traced, refresh=True)

    def read_loop(self, maint) -> None:
        """The timed window: one closed-loop client issuing seeded rounds of
        asks for ``seconds`` of read time. In ``ingest`` the micro-batches
        merge at even points of that time (merge time does not count
        against the window) and the panel is re-asked right after each, its
        answers recomputed; the rounds' panel refreshes that follow hit the
        memo again until the next merge. In the
        traced run the first half is untraced, so the overhead of tracing is
        measured in the same run."""
        gen = asks.Generator(self.seed)
        panel = asks.panel(self.seed)
        rng = random.Random(self.seed * 101 + 7)
        self.window_epoch = self.epoch
        paused = 0.0
        start = time.perf_counter()

        def clock():
            return time.perf_counter() - start - paused

        n = 0
        traced = False
        while clock() < self.seconds:
            for door, fam in asks.cycle(rng, n):
                now = clock()
                if now >= self.seconds:
                    break
                if self.traced and not traced and now >= self.seconds / 2:
                    traced = self.trace_on()
                if self.epoch < self.n_batches and (
                        now >= (self.epoch + 0.5) * self.seconds / self.n_batches):
                    t0 = time.perf_counter()
                    self.merge_next(maint)
                    paused += time.perf_counter() - t0
                    self.ask_panel(panel, traced)
                a = panel[int(fam)] if door == "hot" else gen.ask(door, fam)
                self.send(a, traced)
            n += 1
        while self.epoch < self.n_batches:
            self.merge_next(maint)
            self.ask_panel(panel, traced)

    # ------------------------------------------------------------ corpus
    def corpus_dedup(self, docs):
        from datafusion_uwheel_spark.operators import dedup

        pairs = dedup.lsh_candidate_pairs(
            dedup.with_minhash_signature(docs), min_est_jaccard=DEDUP_MIN_JACCARD
        )
        out = dedup.dup_clusters(pairs)
        rows = out.collect()
        dedup.release_signatures(pairs)
        return out, rows

    def corpus_decon(self, docs):
        from pyspark.sql import functions as F

        from datafusion_uwheel_spark.operators.contamination import with_contamination_fuzzy

        held = docs.filter(F.col("doc_id") % 7 == 0).select(
            "doc_id", F.substring("text", 1, 400).alias("text")
        )
        flagged = with_contamination_fuzzy(
            docs.select("doc_id", "text"), held, min_est_jaccard=DECON_MIN_JACCARD
        )
        out = (
            flagged.filter("contaminated")
            .select("doc_id", F.round("max_est_jaccard", 6).alias("max_est_jaccard"))
            .orderBy("doc_id")
        )
        rows = out.collect()
        flagged._uw_release()
        return out, rows

    def corpus_pack(self, docs):
        from datafusion_uwheel_spark.operators import packing
        from datafusion_uwheel_spark.operators import text as text_ops

        out = packing.pack_sequences(
            text_ops.with_token_stats(docs).select("doc_id", "n_tokens"), PACK_TOKENS
        )
        return out, out.collect()

    def corpus_phase(self) -> dict:
        docs = self.spark.read.parquet(self.corpus_path).cache()
        docs.count()
        results = {}
        for op in CORPUS_OPS:
            for _ in range(CORPUS_REPEATS[op]):
                self.group("corpus:" + op)
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with self.span("corpus." + op):
                        out, rows = getattr(self, "corpus_" + op)(docs)
                except Exception as e:
                    self.fail(f"corpus {op} raised {e!r}")
                    continue
                self.corpus_s.setdefault(op, []).append(time.perf_counter() - t0)
                results[op] = rows
            if op in results:
                self.corpus_layers[op] = self.spark_layer_counts(
                    "corpus:" + op, out._jdf.queryExecution().executedPlan().toString(),
                    CORPUS_REPEATS[op],
                )
        docs.unpersist()
        return results

    def spark_layer_counts(self, group: str, plan: str, runs: int) -> dict:
        """Per run of the operator: jobs, stages and tasks of its job group;
        Exchange and Python-evaluation nodes of its last executed plan (the
        final adaptive plan only)."""
        plan = plan.split("== Initial Plan ==")[0]
        st = self.sc.statusTracker()
        job_ids = self.jobs(group)
        stages = [s for j in job_ids if (info := st.getJobInfo(j)) for s in info.stageIds]
        tasks = sum(info.numTasks for s in stages if (info := st.getStageInfo(s)))
        return {
            "spark_jobs": len(job_ids) / runs,
            "stages": len(stages) / runs,
            "tasks": tasks / runs,
            "exchanges": sum(1 for ln in plan.splitlines() if "Exchange" in ln),
            "python_eval_nodes": sum(1 for ln in plan.splitlines() if PY_EVAL.search(ln)),
        }

    # ------------------------------------------------------------ checks
    def check_reads(self) -> None:
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        by_epoch: dict[int, list[Record]] = {}
        for r in self.records:
            by_epoch.setdefault(r.epoch, []).append(r)

        def load(epoch):  # a native table: zone maps on ts make checks ~3x faster
            con.register("arrow_events", pa.concat_tables([self.base, *self.batches[:epoch]]))
            con.execute("CREATE OR REPLACE TABLE events AS SELECT * FROM arrow_events")

        for epoch, recs in sorted(by_epoch.items()):
            load(epoch)
            memo: dict[str, tuple] = {}
            for r in recs:
                if r.ok:
                    r.ok = self.check_one(con, memo, r)
        # post-ingest state: full-span wheel answers equal the whole table
        load(self.n_batches)
        for sql in (
            "SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n, SUM(value) AS s, "
            "MIN(value) AS lo, MAX(value) AS hi FROM events GROUP BY date_trunc('hour', ts) "
            "ORDER BY h",
            "SELECT date_trunc('day', ts) AS d, event_type, COUNT(*) AS n, SUM(value) AS s "
            "FROM events GROUP BY date_trunc('day', ts), event_type ORDER BY d, event_type",
        ):
            self.attempted += 1
            got = self.eng.sql_rows(sql)
            names, want = checks.duck_answer(con, asks.duck_sql(sql))
            if not (checks.row_names(got) == names
                    and checks.same_rows([tuple(g) for g in got], want)
                    and self.eng.last_route.kind.startswith("group_by")):
                self.fail(f"post-ingest state differs from the whole table: {sql}")

    def check_one(self, con, memo, r: Record) -> bool:
        a = r.ask
        if a.door == "sketch":
            if checks.sketch_ok(con, a.family, a.args, r.out):
                return True
            self.fail(f"sketch:{a.family} estimate {r.out!r} out of bounds: {a.args}", op=False)
            return False
        if a.kind and r.kind != a.kind:
            self.fail(f"{a.door}:{a.family} routed {r.kind!r}, pinned {a.kind!r}", op=False)
            return False
        if a.family == "cte" and r.detail != "driver":
            self.fail(f"cte evaluated {r.detail!r}, pinned 'driver'", op=False)
            return False
        if a.door == "shim" and self.events_dir in r.plan:
            self.fail(f"shim:{a.family} plan scans the table", op=False)
            return False
        if a.duck not in memo:
            memo[a.duck] = checks.duck_answer(con, a.duck)
        names, want = memo[a.duck]
        got = [tuple(x) for x in r.out]
        if r.out and checks.row_names(r.out) != names:
            self.fail(f"{a.door}:{a.family} names {checks.row_names(r.out)} != {names}", op=False)
            return False
        if not checks.same_rows(got, want):
            self.fail(f"{a.door}:{a.family} answer differs from DuckDB: {a.sql}", op=False)
            return False
        return True

    def check_delegate_parity(self) -> None:
        """The first text of ``PARITY_FAMILIES`` seeded routed families,
        asked again through both engine doors, must equal Spark's own answer
        with the shim switched off: names, types, values and order. (Every
        text is checked against DuckDB; a delegate costs ~0.2-0.5 s, so a
        run checks two families against it and the seeds rotate them.)"""
        tables = self.spark.conf.get("spark.uwheel.shim.tables", "")
        picked = set(random.Random(self.seed).sample(asks.DF_FAMILIES, PARITY_FAMILIES))
        seen = set()
        self.group("checks")
        for r in self.records:
            a = r.ask
            if (a.door not in ("rows", "df") or a.family in seen or a.family not in picked
                    or not r.ok):
                continue
            seen.add(a.family)
            self.attempted += 1
            routed = (self.cat if a.family == "cte" else self.eng).sql(a.sql)
            got_cols, got = routed.columns, routed.collect()
            rows = got if a.family == "cte" else self.eng.sql_rows(a.sql)
            self.spark.conf.set("spark.uwheel.shim.tables", "")
            try:
                want_df = self.spark.sql(a.sql)
                want_cols, want = want_df.columns, want_df.collect()
            finally:
                self.spark.conf.set("spark.uwheel.shim.tables", tables)
            want = [tuple(x) for x in want]
            if not (got_cols == want_cols
                    and checks.same_rows([tuple(x) for x in got], want)
                    and checks.same_rows([tuple(x) for x in rows], want)):
                self.fail(f"{a.door}:{a.family} differs from the delegate: {a.sql}")

    def check_jobs(self) -> dict[str, int]:
        """Jobs launched per door. The Row and DataFrame doors must launch
        none; so must the sketch door, except on the first ask of a family
        after a merge inside the window, when the rollup refreshes its
        driver mirror."""
        per_door: dict[str, int] = {}
        for door in {r.ask.door for r in self.records if r.ask.door != "sketch"}:
            n = per_door[door] = len(self.jobs(door))
            if n and door in ("rows", "hot", "df"):
                for r in self.records:
                    if r.ask.door == door:
                        r.ok = False
                self.fail(f"the {door} door launched {n} Spark jobs: {self.job_names(door)}",
                          op=False)
        self.sketch_refresh_jobs = 0
        for i, r in enumerate(self.records):
            if r.ask.door != "sketch":
                continue
            n = len(self.jobs(f"sketch:{i}"))
            per_door["sketch"] = per_door.get("sketch", 0) + n
            if n and r.refresh:
                self.sketch_refresh_jobs += n
            elif n:
                r.ok = False
                self.fail(f"sketch:{r.ask.family} launched {n} Spark jobs", op=False)
        return per_door

    def check_corpus(self, results) -> None:
        """Copy 0 of the corpus against the DuckDB oracles (copies share no
        shingle, so each copy's answer depends on its own documents only);
        every copy: no near-duplicate pair or cluster crosses copies."""
        import duckdb
        import pyarrow.compute as pc

        from datafusion_uwheel_spark import oracles

        stride = data.COPY_ID_STRIDE
        con = duckdb.connect()
        con.register("documents", self.corpus.filter(pc.less(self.corpus["doc_id"], stride)))
        if "dedup" in results:
            pairs = con.execute(
                f"SELECT id_a, id_b FROM ({oracles.minhash_lsh_sql(DEDUP_MIN_JACCARD)})"
            ).fetchall()
            got = {r[0]: r[1] for r in results["dedup"]}
            if {k: v for k, v in got.items() if k < stride} != checks.components(pairs):
                self.fail("dup_clusters differs from the DuckDB pairs' components")
            if any(k // stride != v // stride for k, v in got.items()):
                self.fail("a near-duplicate cluster crosses corpus copies")
        if "decon" in results:
            want = con.execute(oracles.fuzzy_decon_sql(DECON_MIN_JACCARD)).fetchall()
            got = [tuple(r) for r in results["decon"] if r[0] < stride]
            if not checks.same_rows(got, want):
                self.fail("fuzzy decontamination differs from its DuckDB oracle")
        if "pack" in results:
            con.register("documents", self.corpus)
            tokens = dict(con.execute(
                f"SELECT doc_id, n_tokens FROM ({oracles.token_stats_sql()})"
            ).fetchall())
            if not checks.packing_ok(results["pack"], tokens, PACK_TOKENS):
                self.fail("pack_sequences broke a packing invariant")

    # --------------------------------------------------------------- run
    def execute(self) -> dict:
        from datafusion_uwheel_spark.streaming import StreamingWheelMaintainer

        t0 = time.perf_counter()

        def phase(name):
            print(f"[perfbench] {time.perf_counter() - t0:7.1f}s {name}", file=sys.stderr,
                  flush=True)

        self.make_inputs()
        phase("inputs written")
        self.warm_setup()
        phase("warm-up build")
        self.trace_on()
        self.setup()
        phase(f"set-ups {['%.2f' % s for s in self.setup_s]}")
        maint = StreamingWheelMaintainer(self.eng) if self.n_batches else None
        self.trace_off()
        self.warm_up()
        phase("warm-up done")
        self.read_loop(maint)
        self.trace_off()
        phase(f"read window: {len(self.records)} asks, "
              f"batches {['%.0f' % b for b in self.batch_ms]} ms")
        job_counts = self.check_jobs()
        if self.traced:
            self.trace_on()
            corpus = self.corpus_phase()
            self.trace_off()
            phase(f"corpus {self.corpus_s}")
            self.check_corpus(corpus)
            phase("corpus checked")
        self.check_reads()
        phase("reads checked")
        self.check_delegate_parity()
        phase("delegate parity checked")
        failed = sum(1 for r in self.records if not r.ok) + self.op_failures
        result = {
            "correct": not self.failures and failed == 0,
            "attempted": self.attempted,
            "failed": failed,
        }
        if self.traced:
            from perfbench import layers

            result["metrics"] = layers.per_layer(self, job_counts)
        else:
            result["metrics"] = self.end_to_end()
        return result

    def door_us(self, door: str, traced: bool = False, refresh: bool = False) -> list[float]:
        return [r.ns / 1e3 for r in self.records
                if r.ask.door == door and r.ok and r.traced == traced and r.refresh == refresh]

    def door_p50(self, door: str) -> float:
        """A door's typical latency in µs: the geometric mean over its
        families (panel texts, for the hot panel) of each one's median, so
        the figure does not jump between families' cost levels as the mix
        shifts by one ask. Untraced, non-refresh, correct asks only."""
        by: dict[str, list[int]] = {}
        for r in self.records:
            if r.ask.door == door and r.ok and not r.traced and not r.refresh:
                by.setdefault(r.ask.sql if door == "hot" else r.ask.family, []).append(r.ns)
        if not by:
            raise RuntimeError(f"no correct {door} asks to measure")
        logs = [math.log(statistics.median(v) / 1e3) for v in by.values()]
        return math.exp(sum(logs) / len(logs))

    def end_to_end(self) -> dict:
        """The gated metrics: set-up time and the Row door, fresh and hot.
        The other doors and the merge latency spread too widely between
        runs of identical code on a shared box to be gated (see README);
        the traced run reports them as per-layer metrics."""
        m = {
            "setup_s": (statistics.median(self.setup_s), "s"),
            "rows_p50_us": (self.door_p50("rows"), "us"),
            "hot_p50_us": (self.door_p50("hot"), "us"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
