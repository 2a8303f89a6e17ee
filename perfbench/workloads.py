"""The benchmark's workloads.

Each workload is a closed loop with one client: the next op starts when
the previous one has returned. ``prepare`` makes the inputs from the
seed (not timed), ``start_session`` is one set-up (get_spark +
load_tables + one warm-up op set), ``settle`` runs unmeasured ops after
the set-ups, ``measure`` runs ops for at least the given seconds and
returns each op's wall and CPU seconds (``measure_traced`` is its
traced-run form), and ``verify`` checks the run's final state.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sqlite3
import statistics
import time

import check
import gen

# --------------------------------------------------------------- queries
# op -> the layer it reaches (the engine module its query function calls
# into; "entry" = answered by __spark_entry__'s own SQL or column
# functions, no operators module)
MONITORING = {
    "flagship_pricing_summary": "entry", "monitor_recent": "entry",
    "running_total_by_customer": "entry",
    "orders_cdc_applied": "operators.diff",
    "latest_order_per_customer": "operators.windows",
    "revenue_by_brand": "operators.joins",
    "cohort_retention_monthly": "operators.analytics",
    "asof_purchase_signup": "operators.timeseries",
}
CORPUS = {
    "dedup_minhash_lsh": "operators.dedup",
    "curate_documents": "operators.curation",
    "bm25_search_results": "operators.terms",
    "similarity_lsh": "operators.similarity",
    "nb_lang_predictions": "operators.classify",
    "part_copurchase_communities": "operators.graph",
}


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended meanwhile
        return None


def cpu_s() -> float:
    """CPU seconds used so far by this process, the driver JVM and every
    process under the JVM (Spark's Python workers), reaped ones included.

    On a shared host they move with the load of other guests less than
    wall time does: time the hypervisor takes a virtual CPU away is not
    counted, though contention still slows the work itself."""
    from pyspark import SparkContext

    total = time.process_time()
    gw = SparkContext._gateway
    if gw is None or getattr(gw, "proc", None) is None:
        return total
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (st := _stat(pid)) is not None:
            # fields after the name: ppid is 2nd, utime..cstime 12th-15th
            parent[pid] = st[1]
            ticks[pid] = sum(int(x) for x in st[11:15])
    tree, todo = set(), [str(gw.proc.pid)]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo += [c for c, p in parent.items() if p == pid and c not in tree]
    return total + sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class Run:
    """State shared by the phases of one benchmark run."""

    def __init__(self, work: str, seed: int, tracer, cores: int):
        self.work, self.seed, self.tracer, self.cores = work, seed, tracer, cores
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.extra: dict[str, float] = {}
        # (op, wall s, CPU s) of every op run, warm-up included
        self.timings: list[tuple[str, float, float]] = []
        # wall and CPU time spent checking outputs, kept out of set-up
        self.check_s = self.check_cpu_s = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


class Workload:
    name = ""
    tables: tuple[str, ...] = ()

    def __init__(self, run: Run):
        self.run = run
        self.data = os.path.join(run.work, "data")

    def start_session(self, i: int) -> None:
        """One set-up: a fresh SparkSession, the tables, the warm-up ops."""
        from pipelines_rj_sms_spark import session

        r = self.run
        with r.tracer.span("session", "get_spark"):
            r.spark = session.get_spark(f"perfbench-{self.name}")
        r.spark.sparkContext.setLogLevel("ERROR")
        r.tracer.bind(r.spark)
        with r.tracer.span("session", "load_tables"):
            session.load_tables(r.spark, self.data, self.tables)
        self.warm_up(i)

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self, i: int) -> None:
        raise NotImplementedError

    def settle(self) -> None:
        """Unmeasured ops between the set-ups and the measured ones."""

    def measure(self, seconds: float) -> list[tuple[float, float]]:
        """Run ops for at least ``seconds``; (wall s, CPU s) of each op
        that passed its check."""
        raise NotImplementedError

    def verify(self) -> None:
        pass

    def teardown(self) -> None:
        pass

    def input_rows(self, n_ops: int) -> int:
        raise NotImplementedError


# ---------------------------------------------------------- query ops


class ReportsAndCuration(Workload):
    """Monitoring reports over a key-shifted scale-up of the relational
    tables plus corpus curation ops over ``documents``/``embeddings``.

    Each op is a named query from ``__spark_entry__.queries()``: build
    the DataFrame, collect it to the client (Arrow), then
    ``cache.release`` it. A pass runs every query once, always in the
    same order (a shuffled order moves the warm-up cost of code paths
    between queries from run to run). One unmeasured pass follows the
    set-ups: it makes each query's first, oracle-checked run and lets
    the JIT compile the code paths the pass reaches. The run then
    measures whole passes."""

    name = "reports_and_curation"
    tables = tuple(TABLES)
    ops = MONITORING | CORPUS
    warm_ops = ("flagship_pricing_summary",)
    base_sf, copies = 0.005, 2
    n_docs, n_vecs = 500, 250
    # the JIT compiler still spends about a quarter of the CPU time of the
    # first pass after settling. Runs of the same code differed as much
    # with two measured passes as with one: the host's load drifts over
    # minutes, so a second pass buys no steadiness, only run time
    min_passes = 1

    def __init__(self, run: Run):
        super().__init__(run)
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracle_sql = __spark_entry__.oracle_sql()
        self.first: dict[str, str] = {}
        self.table_rows: dict[str, int] = {}
        self.op_rows: dict[str, int] = {}
        self.pins = {}

    def prepare(self) -> None:
        base = gen.base_tables(self.run.seed, self.base_sf, self.n_docs,
                               self.n_vecs)
        corpus = ("documents", "embeddings")
        tables = gen.scale_up({t: base[t] for t in TABLES if t not in corpus},
                              self.copies) | {t: base[t] for t in corpus}
        self.table_rows = gen.write_tables(tables, self.data)
        self.oracle = check.Oracle(self.data, list(self.tables))

    def warm_up(self, i: int) -> None:
        for q in self.warm_ops:
            self.op(q, traced=True)

    def settle(self) -> None:
        for q in self.ops:
            self.op(q, traced=False)

    def op(self, q: str, traced: bool) -> tuple[float, float] | None:
        """Run query ``q`` once; returns its wall and CPU seconds, or
        None when it raised or its output failed the check."""
        from pipelines_rj_sms_spark.operators import cache

        r, tr = self.run, self.run.tracer
        was, tr.enabled = tr.enabled, tr.enabled and traced
        r.attempted += 1
        err = None
        c0, t0 = cpu_s(), time.perf_counter()
        try:
            with tr.span(self.ops[q], q):
                df = self.queries[q](r.spark, self.data)
                pdf = df.toPandas()
                if tr.enabled:
                    self._storage_peak()
            with tr.span("operators.cache", "release") as rec:
                n = cache.release(df)
                rec["frames"] = n
        except Exception as exc:  # an op that raises counts as failed
            err = f"{q}: {type(exc).__name__}: {str(exc)[:300]}"
        wall, cpu = time.perf_counter() - t0, cpu_s() - c0
        r.timings.append((q, wall, cpu))
        tr.enabled = was
        leaked = cache.release_all()
        if tr.enabled:
            r.extra["operators.cache.frames_released"] = r.extra.get(
                "operators.cache.frames_released", 0) + (0 if err else n)
            r.extra["operators.cache.leaked_frames"] = r.extra.get(
                "operators.cache.leaked_frames", 0) + leaked
        if err is None:
            # the checks run in this process (pandas, DuckDB)
            t0, c0 = time.perf_counter(), time.process_time()
            err = self._check(q, df, pdf)
            r.check_s += time.perf_counter() - t0
            r.check_cpu_s += time.process_time() - c0
        if err:
            r.fail(err)
            return None
        return wall, cpu

    def _storage_peak(self) -> None:
        infos = self.run.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        used = sum(i.memSize() + i.diskSize() for i in infos)
        ex = self.run.extra
        ex["spark.storage_bytes_peak"] = max(
            ex.get("spark.storage_bytes_peak", 0), used)

    def _check(self, q: str, df, pdf) -> str | None:
        if q in self.first:
            d = check.fast_digest(pdf)
            return None if d == self.first[q] else (
                f"{q}: digest {d} differs from this run's first {self.first[q]}")
        canon = check.canonical(pdf)
        reason = self.oracle.compare(self.oracle_sql[q], canon)
        if reason is None:
            pin = self.pins.get(q)
            got = [len(canon[2]), check.digest(canon)]
            if pin is not None and pin != got:
                reason = f"pinned rows/digest {pin}, got {got}"
        if reason:
            return f"{q}: {reason}"
        self.first[q] = check.fast_digest(pdf)
        self.op_rows[q] = self._input_rows(df)
        return None

    def _input_rows(self, df) -> int:
        """Rows of the generated tables the query reads."""
        names = {os.path.basename(p).split(".parquet")[0]
                 for p in df.inputFiles()}
        return sum(self.table_rows.get(n, 0) for n in names)

    def measure(self, seconds: float) -> list[tuple[float, float]]:
        ops, self.done = [], []
        t0, passes = time.perf_counter(), 0
        while passes < self.min_passes or time.perf_counter() - t0 < seconds:
            passes += 1
            for q in self.ops:
                w = self.op(q, traced=True)
                self.done.append(q)
                if w is not None:
                    ops.append(w)
        return ops

    def measure_traced(self) -> tuple[list[tuple[float, float]], float]:
        """Two passes, one tracing the odd positions and one the even
        ones, so every query runs once traced and once untraced. Returns
        the ops' (wall s, CPU s) and the tracing overhead share (traced
        over untraced wall, minus one)."""
        ops, on, off = [], 0.0, 0.0
        self.done = []
        for p in (1, 0):
            for i, q in enumerate(self.ops):
                traced = i % 2 == p
                w = self.op(q, traced)
                self.done.append(q)
                if w is None:
                    continue
                ops.append(w)
                if traced:
                    on += w[0]
                else:
                    off += w[0]
        return ops, (on / off - 1.0) if off else 0.0

    def input_rows(self, n_ops: int) -> int:
        return sum(self.op_rows.get(q, 0) for q in self.done[:n_ops])

    def teardown(self) -> None:
        self.oracle.close()


# ------------------------------------------------------------ daily load


def _du(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _progress(p) -> dict:
    if isinstance(p, dict):
        return p
    return json.loads(p if isinstance(p, str) else p.json)


def _files_per_partition(path: str) -> float:
    counts = [sum(f.endswith(".parquet") for f in files)
              for _d, _dirs, files in os.walk(path)]
    counts = [c for c in counts if c]
    return sum(counts) / len(counts) if counts else 0.0


class DailyLoad(Workload):
    """One op lands one day of ``events``: separator sniff and encoding
    detection, raw ingestion, keyed merge into the curated table, one
    AvailableNow streaming run, expectations on the touched partitions
    and the sqlite upsert of their per-type counts."""

    name = "daily_load"
    tables = ("events",)
    # the first days differ systematically (day 0 merges into an empty
    # table, day 1 is the first merge into existing partitions); the mean
    # CPU time of the first four days varies by about 3% between runs
    min_days = 4

    def prepare(self) -> None:
        self.plan = gen.drop_plan(self.run.seed)
        self.drops: dict[int, dict] = {}
        gen.write_tables({"events": gen.events(gen.rng_for(self.run.seed, 5),
                                               gen.SF01_ROWS["events"])},
                         self.data)
        self.reports = []
        self.days_done = 0
        self.expect_ok = self.expect_n = 0
        self.stream_batches = []
        self.rewrites = []

    def _new_lake(self, root: str) -> dict[str, str]:
        lake = {k: os.path.join(root, k) for k in
                ("landing", "raw", "curated", "stream", "checkpoint")}
        lake["sqlite"] = os.path.join(root, "summary.sqlite")
        os.makedirs(os.path.join(lake["landing"], "parquet"), exist_ok=True)
        con = sqlite3.connect(lake["sqlite"])
        con.execute("CREATE TABLE daily_summary (data_particao TEXT, "
                    "event_type TEXT, n INTEGER, "
                    "PRIMARY KEY (data_particao, event_type))")
        con.commit()
        con.close()
        return lake

    def drop(self, d: int) -> dict:
        """Day ``d``'s drop files, written on first use (not timed)."""
        if d not in self.drops:
            self.drops[d] = gen.write_drop(
                self.plan, d, os.path.join(self.run.work, "drops"))
        return self.drops[d]

    def warm_up(self, i: int) -> None:
        self.drop(0)
        lake = self._new_lake(os.path.join(self.run.work, f"warm{i}"))
        self.run.attempted += 1
        if not self.day(0, lake):
            self.run.fail("warm-up day 0: ingestion report or expectations failed")

    def day(self, d: int, lake: dict[str, str]) -> bool:
        from pyspark.sql import functions as F

        from pipelines_rj_sms_spark.jobs import IngestionConfig, run_ingestion
        from pipelines_rj_sms_spark.quality import expectations as ex
        from pipelines_rj_sms_spark.sinks import jdbc_upsert, lakehouse
        from pipelines_rj_sms_spark.sources.files import sniff_separator
        from pipelines_rj_sms_spark.sources.formats import detect_encoding
        from pipelines_rj_sms_spark.streaming.incremental import (
            incremental_ingest)

        r, tr, drop = self.run, self.run.tracer, self.drops[d]
        spark = r.spark
        # landing: the day's drop arrives in the landing area
        csv_dir = os.path.join(lake["landing"], "csv", f"d{d:02d}")
        os.makedirs(csv_dir, exist_ok=True)
        csv_file = shutil.copy(drop["csv"], csv_dir)
        pq_file = shutil.copy(drop["parquet"],
                              os.path.join(lake["landing"], "parquet"))
        csv_glob = os.path.join(csv_dir, "*.csv")
        with tr.span("sources", "sniff_separator"):
            sep = sniff_separator(spark, csv_glob)
        with tr.span("sources", "detect_encoding"):
            enc = detect_encoding(csv_file)
        # source_path is a *.csv glob: a bare directory makes
        # jobs._first_local_file return the directory itself
        cfg = IngestionConfig(
            name="events", source_format="csv", source_path=csv_glob,
            sink_path=lake["raw"], dump_mode="append", ts_col="ts",
            csv_sep=sep, csv_encoding=enc, run_id=f"d{d:02d}")
        with tr.span("jobs", "run_ingestion"):
            report = run_ingestion(spark, cfg)
        self.reports.append(report)
        updates = spark.read.parquet(pq_file)
        before = _files(lake["curated"]) if tr.enabled else {}
        with tr.span("sinks.lakehouse", "merge_upsert"):
            lakehouse.merge_upsert(spark, lake["curated"], updates,
                                   keys=["event_id"], order_col="version",
                                   ts_col="ts")
        if tr.enabled:
            new = sum(s for p, s in _files(lake["curated"]).items()
                      if p not in before)
            self.rewrites.append(new / os.path.getsize(pq_file))
        with tr.span("streaming", "incremental_ingest") as rec:
            q = incremental_ingest(
                spark, os.path.join(lake["landing"], "parquet"),
                updates.schema, lake["stream"], lake["checkpoint"],
                ts_col="ts")
            q.awaitTermination()
            if rec is not None and tr.enabled:
                rec["groups"].append(str(q.runId))
        if tr.enabled:
            self.stream_batches += [p for p in map(_progress, q.recentProgress)
                                    if p["numInputRows"] > 0]
        dates = gen.touched_dates(self.plan, d)
        cur = lakehouse.read_table(spark, lake["curated"]).filter(
            F.col("data_particao").cast("string").isin(dates))
        suite = [ex.not_null("event_id"), ex.unique("event_id"),
                 ex.between("value", 0, 10_000),
                 ex.isin("event_type", gen.EVENT_TYPES)]
        with tr.span("quality", "run_expectations"):
            checks = ex.run_expectations(cur, suite).collect()
        passed = sum(bool(c["passed"]) for c in checks)
        self.expect_ok += passed
        self.expect_n += len(checks)
        summary = (cur.groupBy(F.col("data_particao").cast("string")
                               .alias("data_particao"), "event_type")
                   .agg(F.count("*").alias("n")).coalesce(1))
        with tr.span("sinks.jdbc_upsert", "upsert"):
            jdbc_upsert.upsert(
                summary, "daily_summary", ["data_particao", "event_type"],
                functools.partial(sqlite3.connect, lake["sqlite"],
                                  timeout=60),
                dialect="sqlite")
        return report.ok and passed == len(checks)

    def measure(self, seconds: float) -> list[tuple[float, float]]:
        self.lake = self._new_lake(os.path.join(self.run.work, "lake"))
        ops = []
        t0 = time.perf_counter()
        while self.days_done < gen.N_DAYS and (
                self.days_done < self.min_days or time.perf_counter() - t0 < seconds):
            w = self._timed_day(self.days_done, traced=True)
            if w is not None:
                ops.append(w)
        return ops

    def _timed_day(self, d: int, traced: bool) -> tuple[float, float] | None:
        r, tr = self.run, self.run.tracer
        self.drop(d)
        was, tr.enabled = tr.enabled, tr.enabled and traced
        r.attempted += 1
        c0, t0 = cpu_s(), time.perf_counter()
        try:
            with tr.span("op", f"day{d:02d}"):
                ok = self.day(d, self.lake)
            err = None if ok else f"day {d}: ingestion report or expectations failed"
        except Exception as exc:
            err = f"day {d}: {type(exc).__name__}: {str(exc)[:300]}"
        wall, cpu = time.perf_counter() - t0, cpu_s() - c0
        r.timings.append((f"day{d:02d}", wall, cpu))
        tr.enabled = was
        self.days_done = d + 1
        if err:
            r.fail(err)
            return None
        return wall, cpu

    def measure_traced(self) -> tuple[list[tuple[float, float]], float]:
        """Days alternate traced / untraced; the overhead share is the
        traced median day over the untraced median day, minus one."""
        self.lake = self._new_lake(os.path.join(self.run.work, "lake"))
        on, off = [], []
        for d in range(8):
            w = self._timed_day(d, traced=d % 2 == 0)
            if w is not None:
                (on if d % 2 == 0 else off).append(w)
        share = (statistics.median(w for w, _ in on)
                 / statistics.median(w for w, _ in off) - 1.0
                 if on and off else 0.0)
        return on + off, share

    def input_rows(self, n_ops: int) -> int:
        return sum(self.drops[d]["rows"] for d in range(n_ops))

    def verify(self) -> None:
        """Run-end invariants, then the one compaction of the run."""
        from pipelines_rj_sms_spark.sinks import lakehouse

        r, spark, lake = self.run, self.run.spark, self.lake
        last = self.days_done - 1
        if not all(rep.ok for rep in self.reports):
            r.fail("an IngestionReport is not ok")
        want = gen.expected_curated(self.plan, last)
        got = (lakehouse.read_table(spark, lake["curated"])
               .select("event_id", "version", "value").toPandas())
        if got["event_id"].duplicated().any():
            r.fail("curated event_id is not unique")
        got_map = {int(e): (int(v), float(x)) for e, v, x in
                   zip(got["event_id"], got["version"], got["value"])}
        if got_map != want:
            n = len(set(got_map.items()) ^ set(want.items()))
            r.fail(f"curated differs from the generator's prediction in {n} rows")
        con = sqlite3.connect(lake["sqlite"])
        (n_sql,) = con.execute("SELECT sum(n) FROM daily_summary").fetchone()
        con.close()
        if n_sql != len(want):
            r.fail(f"sqlite sum(n)={n_sql}, distinct events landed={len(want)}")
        raw_rows = lakehouse.read_table(spark, lake["raw"]).count()
        landed = self.input_rows(self.days_done)
        if raw_rows != landed:
            r.fail(f"raw table has {raw_rows} rows, {landed} landed")
        fpp_before = _files_per_partition(lake["raw"])
        with r.tracer.span("sinks.lakehouse", "compact_partitions"):
            n_parts = lakehouse.compact_partitions(spark, lake["raw"])
        if lakehouse.read_table(spark, lake["raw"]).count() != raw_rows:
            r.fail("compaction changed the raw row count")
        csv_bytes = sum(self.drops[d]["csv_bytes"] for d in range(self.days_done))
        stored = sum(_du(lake[k]) for k in ("raw", "curated", "stream"))
        ex = r.extra
        ex["sinks.lakehouse.files_per_partition_before"] = fpp_before
        ex["sinks.lakehouse.files_per_partition_after"] = \
            _files_per_partition(lake["raw"])
        ex["sinks.lakehouse.partitions_rewritten"] = n_parts
        ex["sinks.lakehouse.bytes_stored_per_input_byte"] = stored / csv_bytes
        ex["sinks.lakehouse.merge_upsert.bytes_rewritten_per_update_byte"] = (
            statistics.median(self.rewrites) if self.rewrites else 0.0)
        ex["quality.checks_passed_share"] = (
            self.expect_ok / self.expect_n if self.expect_n else 0.0)
        b = self.stream_batches
        ex["streaming.batch_ms"] = statistics.median(
            p["durationMs"]["triggerExecution"] for p in b) if b else 0.0
        ms = sum(p["durationMs"]["triggerExecution"] for p in b)
        ex["streaming.input_rows_per_s"] = (
            sum(p["numInputRows"] for p in b) / (ms / 1000.0) if ms else 0.0)


WORKLOADS = {w.name: w for w in (DailyLoad, ReportsAndCuration)}
