"""The benchmark's two workloads: nightly_batch and tick_stream.

Each one starts the engine's session, times its work with the engine's
public functions, then checks its outputs outside the timed region.
Both fill the same end-to-end metrics; README.md says what an "op" and
a "pass" are in each.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import gc
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

import numpy as np

import datagen
import tracing as T
from cse_datapipeline_and_mls_spark import ml, serving, session
from cse_datapipeline_and_mls_spark import queries as Q
from cse_datapipeline_and_mls_spark import streaming as ST
from cse_datapipeline_and_mls_spark.operators import tswindow
from cse_datapipeline_and_mls_spark.sources import loader, sinks

perf = time.perf_counter
APP = "perfbench"
PAGE = 50  # rows per served page
SETUPS = 3  # session set-ups per run; setup_s is their median

NIGHTLY_SF = 0.001
NIGHTLY_REGISTRY = [
    "x_pagerank_personalized",
    "x_label_propagation_communities",
    "x_katz_copurchase",
    "ml_fpgrowth_itemsets",
    "x_minhash_neardup_pairs",
    "x_ann_ivf_topk",
]
NIGHTLY_TABLES = ["events", "orders", "lineitem", "documents", "embeddings"]

# The tick feed follows the reference scraper (README.md, "Tick feed"):
# one file per poll, holding the whole 289-symbol market snapshot; one
# poll every 300 s of market time, replayed 1000x faster; rows of symbols
# with no trade since the last poll are exact re-sends, at the share of
# (symbol, trading day) cells without a trade in the reference's daily
# price table (7,858 rows of 289 symbols x 31 days).
TICK_SYMBOLS = 289  # rows per poll file
TICK_POLL_S = 300.0  # market time between polls
TICK_SPEEDUP = 1000.0
TICK_INTERVAL_S = TICK_POLL_S / TICK_SPEEDUP  # open-loop landing period
TICK_RESEND = 1.0 - 7858 / (TICK_SYMBOLS * 31)
# Landed before the clock starts, in batches of the live batches' size.
# JIT compilation still speeds up each batch after two warm batches, and
# how fast it does so depends on the host; five leave the live batches
# on the plateau the drain batches reach.
TICK_WARM_FILES = 20
TICK_WARM_PER_BATCH = 4
TICK_BACKLOG_FILES = 48  # four hours of polls missed while the stream was down
TICK_BACKLOG_PER_TRIGGER = 8
TICK_HISTORY_POLLS = 16
ALERT_THRESHOLD = 5.0


class Result:
    def __init__(self, results_dir: str) -> None:
        self.results_dir = results_dir
        self.metrics: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.detail: dict = {}
        self.env: dict = {}
        self.tracer = None


class Bench:
    """Run state shared by the workloads: session, tracer, checks."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.data_root = os.path.join(work, "data")
        self.run_dir = os.path.join(work, "run", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.res = Result(os.path.join(work, "results"))
        self.tracer = T.Tracer() if args.trace else None
        self.res.env["code_digest"] = code_digest()
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files in .work; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if self.tracer:
            self.eventlog_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.eventlog_dir)
            self.conf |= T.eventlog_conf(self.eventlog_dir)
            self.tracer.install()
            self.res.tracer = self.tracer
        self.spark = None
        self._con = None
        self.groups: list[str] = []  # job groups that belong to measured ops
        self._phase_t = perf()
        self.res.detail["phase_s"] = {}

    def phase(self, name: str) -> None:
        """Close the current phase under ``name`` (wall seconds, kept in
        the run record)."""
        now = perf()
        self.res.detail["phase_s"][name] = now - self._phase_t
        self._phase_t = now

    # -- session ---------------------------------------------------------

    def start(self, prepare) -> None:
        """Set the session up SETUPS times: each is get_spark (a fresh
        SparkContext) plus the workload's input preparation. The first
        also launches the JVM, so the median is a set-up on a live JVM."""
        starts, setups = [], []
        for i in range(SETUPS):
            if i:
                self.spark.stop()
            t0 = perf()
            self.spark = session.get_spark(APP, extra_conf=self.conf)
            t1 = perf()
            prepare(self.spark)
            setups.append(perf() - t0)
            starts.append(t1 - t0)
        self.res.metrics["setup_s"] = statistics.median(setups)
        self.res.metrics["session.jvm_start_s"] = starts[0]
        self.res.metrics["session.start_s"] = statistics.median(starts[1:])
        self.res.detail["setup_samples_s"] = setups
        self.phase("jvm_and_setup")
        sc = self.spark.sparkContext
        self.res.env |= {"spark": self.spark.version, "app_id": sc.applicationId}

    def group(self, gid: str, desc: str) -> None:
        """Label the following Spark jobs of this thread with ``gid``."""
        self.spark.sparkContext.setJobGroup(gid, desc)
        if self.tracer:
            self.tracer.request = gid

    def measure_from_here(self) -> None:
        """Drop the spans of set-up and warm-up: per-layer figures cover
        the measured phase only."""
        self.phase("warm")
        if self.tracer:
            self.tracer.spans.clear()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if self.tracer is None:
            yield
            return
        s = self.tracer.begin(name, layer)
        try:
            yield
        finally:
            self.tracer.end(s)

    def snapshot_memory(self) -> None:
        """At the end of the measured phase: memory still held after a full
        GC (JVM heap in use plus the Python driver's resident set), and
        the peak resident set of both processes so far."""
        jvm = self.spark.sparkContext._jvm
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        # Python first: its garbage holds py4j references to JVM objects.
        # Each JVM GC lets the ContextCleaner release the blocks and
        # broadcasts of collected references asynchronously, and a release
        # can come a round late, so repeat until two rounds in a row
        # free less than 1 MB.
        used = []
        for _ in range(8):
            gc.collect()
            jvm.System.gc()
            time.sleep(0.5)
            used.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
            if len(used) > 2 and max(used[-3] - used[-2], used[-2] - used[-1]) < 1.0:
                break
        pid = jvm.java.lang.ProcessHandle.current().pid()
        m = self.res.metrics
        py_mb = _proc_kb("self", "VmRSS") / 1024.0
        m["retained_mb"] = used[-1] + py_mb
        self.res.detail["retained"] = {"jvm_heap_mb": used, "python_rss_mb": py_mb}
        m["peak_rss_mb"] = (_proc_kb(pid, "VmHWM") + _proc_kb("self", "VmHWM")) / 1024.0

    # -- checks ----------------------------------------------------------

    def op(self, ok: bool, what: str) -> bool:
        """Count one operation or check; a failure counts in fail_ratio."""
        self.res.attempted += 1
        if not ok:
            self.res.failed += 1
            self.res.failures.append(what)
            print(f"[bench] FAILED: {what}", file=sys.stderr)
        return ok

    def oracle_check(self, name: str, rows: list, cols: list, data_dir: str) -> bool:
        """Full result of registry query ``name`` must hash-equal its
        DuckDB oracle on the same files."""
        if self._con is None:
            import duckdb

            saved = list(sys.path)
            from tools.check_correctness import TABLES, table_hash

            sys.path[:] = saved
            self._hash = table_hash
            self._con = duckdb.connect()
            self._con_tables = TABLES
        for t in self._con_tables:
            self._con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        res = self._con.execute(Q.ORACLE[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        ok = (
            sorted(cols) == sorted(ocols)
            and len(rows) == len(orows)
            and self._hash(rows, cols) == self._hash(orows, ocols)
        )
        return self.op(ok, f"oracle:{name} rows={len(rows)} oracle_rows={len(orows)}")

    # -- tracing reports ---------------------------------------------------

    def layer_metrics(self, op_wall_s: float, n_units: int) -> None:
        """Per-layer metrics of a traced run, per unit of work (one mix
        pass, one nightly pass, one micro-batch)."""
        m = self.res.metrics
        tr = self.tracer
        n = max(1, n_units)
        m["sources.load_table_s"] = tr.sum_prefix("sources.loader.load_table") / n
        m["sources.load_table_calls"] = tr.count_prefix("sources.loader.load_table") / n
        m["queries.build_s"] = tr.sum_prefix("queries.") / n
        m["serving.to_json_s"] = tr.sum_prefix("serving.") / n
        m["operators.graph_s"] = tr.sum_prefix("operators.graph.") / n
        m["operators.dedup_s"] = tr.sum_prefix("operators.dedup.") / n
        m["operators.similarity_s"] = tr.sum_prefix("operators.similarity.") / n
        m["ml.features_s"] = tr.sum_prefix("ml.features") / n
        m["ml.fit_s"] = tr.sum_prefix("ml.fit") / n
        m["ml.score_s"] = tr.sum_prefix("ml.score") / n
        m["sinks.merge_upsert_s"] = tr.sum_prefix("sources.sinks.merge_upsert_parquet") / n
        self_t = tr.self_times()
        for layer in ("session", "sources", "queries", "operators", "ml", "serving", "streaming"):
            m[f"self.{layer}_s"] = self_t.get(layer, 0.0) / n
        self.res.detail["layer_self_s"] = self_t
        # the event log is complete once the context has stopped
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        ledger = T.read_eventlog(self.eventlog_dir, app_id)
        gs = [g for g in self.groups if g in ledger]
        for key in ("jobs", "stages", "tasks", "action_s", "task_run_s", "task_cpu_s"):
            m[f"spark.{key}"] = T.total(ledger, gs, key) / n
        for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.{key}"] = T.total(ledger, gs, key) / n
        m["spark.driver_gap_s"] = (op_wall_s - T.total(ledger, gs, "action_s")) / n
        self.res.detail["ledger"] = {g: ledger[g] for g in gs}

    def overhead_pct(self, key: str, traced_value: float) -> float:
        """Traced minus untraced ``key``, in % of the median of the
        untraced runs of this workload recorded in this checkout for the
        same code and run length (0 when there are none yet)."""
        vals = []
        pat = os.path.join(self.res.results_dir, f"{self.args.workload}-seed*-trace0-*.json")
        for p in glob.glob(pat):
            try:
                with open(p) as f:
                    rec = json.load(f)
                if (
                    rec["env"].get("code_digest") != self.res.env["code_digest"]
                    or rec["seconds"] != self.args.seconds
                ):
                    continue
                vals.append(rec["detail"]["primary"][key])
            except (OSError, ValueError, KeyError):
                continue
        self.res.detail["overhead_baseline_runs"] = len(vals)
        if not vals:
            return 0.0
        base = statistics.median(vals)
        return 100.0 * (traced_value - base) / base

    def finish(self, primary: dict, units: int, op_wall_s: float) -> Result:
        """Fill the end-to-end metrics from ``primary`` and, when tracing,
        the per-layer metrics."""
        self.phase("measure_and_check")
        m = self.res.metrics
        m.update(primary)
        self.res.detail["primary"] = dict(primary) | {"retained_mb": m["retained_mb"]}
        m["fail_ratio"] = self.res.failed / max(1, self.res.attempted)
        if self.tracer:
            m["trace.overhead_pct"] = self.overhead_pct("pass_s", primary["pass_s"])
            self.layer_metrics(op_wall_s, units)
        else:
            self.spark.stop()
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.phase("stop")
        return self.res


def code_digest() -> str:
    """Digest of the engine's and the benchmark's Python sources: runs of
    the same code share it, in a git checkout or not."""
    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for top in (os.path.join(os.path.dirname(here), "cse_datapipeline_and_mls_spark"), here):
        for p in sorted(glob.glob(os.path.join(top, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(p, top).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _proc_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"no {field} for {pid}")


def _pct(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values), q))


def _parquet_files_since(root: str, t: float) -> int:
    """Parquet files under ``root`` last modified at or after epoch ``t``
    (a listing only; no Spark job)."""
    return sum(
        f.endswith(".parquet") and os.path.getmtime(os.path.join(d, f)) >= t
        for d, _, files in os.walk(root)
        for f in files
    )


def _touch_tables(spark, data_dir: str, names) -> None:
    for n in names:
        loader.load_table(spark, data_dir, n).schema  # noqa: B018 - resolves the footer


# -- nightly_batch -----------------------------------------------------------


def _ml_leg(b: Bench, data: str) -> dict:
    """The reference's nightly ML job: price features, up/down label with
    class weights, time split, weighted GBT fit, scoring, metrics, and a
    page of predictions through the serving edge."""
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    spark = b.spark
    with b.span("ml.features", "ml"):
        ev = loader.load_table(spark, data, "events")
        feats = ml.build_price_features(ev, "user_id", ["ts", "event_id"], "value")
        w = tswindow.series_window("user_id", ["ts", "event_id"])
        labeled = (
            ml.add_binary_label_and_weights(feats, "value", w)
            .na.drop(subset=ml.DEFAULT_FEATURES)
            .cache()
        )
        train, test = ml.time_split(labeled, "ts", test_days=7)
    try:
        with b.span("ml.fit", "ml"):
            model = ml.classifier_pipeline(ml.DEFAULT_FEATURES, max_iter=5, max_depth=3).fit(train)
        with b.span("ml.score", "ml"):
            pred = model.transform(test)
            metrics = ml.binary_metrics(pred)
            n_test = test.count()
            scored = pred.select(
                "event_id",
                "user_id",
                "ts",
                "prediction",
                vector_to_array("probability")[1].alias("p_up"),
            )
            page = serving.to_json_records(scored).limit(PAGE).collect()
    finally:
        labeled.unpersist()
    return metrics | {"n_test": n_test, "page_rows": len(page)}


def nightly_batch(b: Bench) -> Result:
    """One nightly pass in a fresh JVM: the ML job, then the engine's
    heavy iterative operators, each materializing its full result."""
    data = datagen.make_tables(b.data_root, NIGHTLY_SF)
    b.start(lambda s: _touch_tables(s, data, NIGHTLY_TABLES))
    spark = b.spark
    legs: dict[str, float] = {}
    outputs: dict[str, tuple] = {}
    b.measure_from_here()
    t_start = perf()
    for leg in ["ml"] + NIGHTLY_REGISTRY:
        b.group(f"leg:{leg}", leg)
        b.groups.append(f"leg:{leg}")
        t0 = perf()
        try:
            with b.span(f"leg.{leg}", "request"):
                if leg == "ml":
                    outputs[leg] = _ml_leg(b, data)
                else:
                    df = Q.QUERIES[leg](spark, data)
                    with b.span("spark.collect", "spark"):
                        outputs[leg] = ([tuple(r) for r in df.collect()], df.columns)
        except Exception as e:  # noqa: BLE001 - a failed leg is data
            b.op(False, f"leg {leg}: {e!r}")
            continue
        legs[leg] = perf() - t0
    wall = perf() - t_start
    b.snapshot_memory()

    for leg, out in outputs.items():
        if leg == "ml":
            ok = (
                out["auc"] >= 0.7
                and out["accuracy"] >= 0.6
                and out["tp"] + out["tn"] + out["fp"] + out["fn"] == out["n_test"]
                and out["page_rows"] == min(PAGE, out["n_test"])
            )
            b.op(ok, f"ml bracket verdict {out}")
            b.res.detail["ml"] = out
        else:
            b.oracle_check(leg, out[0], out[1], data)
    vals = list(legs.values())
    b.res.detail["legs_s"] = legs
    primary = {
        "p50_s": _pct(vals, 50),
        "p90_s": _pct(vals, 90),
        "ops_per_s": len(vals) / wall,
        "pass_s": wall,
    }
    return b.finish(primary, 1, wall)


# -- tick_stream -------------------------------------------------------------


class _Generator(threading.Thread):
    """Open-loop tick source: lands file k at t0 + k * period, whatever
    the stream is doing, and records how late each landing was."""

    def __init__(self, tables, directory: str, period: float, first: int) -> None:
        super().__init__(daemon=True)
        self.tables, self.directory, self.period, self.first = tables, directory, period, first
        self.t0 = None
        self.created: list[float] = []
        self.late: list[float] = []
        self.landed_epoch: list[float] = []

    def run(self) -> None:
        self.t0 = perf()
        for k, tab in enumerate(self.tables):
            due = self.t0 + k * self.period
            pause = due - perf()
            if pause > 0:
                time.sleep(pause)
            datagen.land(tab, self.directory, f"tick-{self.first + k:05d}.parquet")
            self.created.append(due)
            self.late.append(perf() - due)
            self.landed_epoch.append(time.time())


def tick_stream(b: Bench) -> Result:
    """Tick files → ingest_file_stream → bronze_ingest → foreachBatch that
    emits threshold_alerts and upserts the batch into a day-partitioned
    bronze table with sinks.merge_upsert_parquet; then a backlog drain."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    seed = b.args.seed
    n_live = max(1, int(round(b.args.seconds / TICK_INTERVAL_S)))
    ticks = datagen.tick_files(
        seed,
        TICK_WARM_FILES + n_live,
        TICK_SYMBOLS,
        resend_share=TICK_RESEND,
        event_seconds_per_file=TICK_POLL_S,
    )
    warm, live = ticks[:TICK_WARM_FILES], ticks[TICK_WARM_FILES:]
    next_id = 1 + max(int(pa.compute.max(t["event_id"]).as_py()) for t in ticks)
    backlog = datagen.tick_files(
        seed + 1_000_003,
        TICK_BACKLOG_FILES,
        TICK_SYMBOLS,
        first_id=next_id,
        resend_share=TICK_RESEND,
        t0=datagen.TICK_START + dt.timedelta(days=1),
        event_seconds_per_file=TICK_POLL_S,
    )
    # yesterday's last polls, already deduplicated in the bronze table
    history = pa.concat_tables(
        datagen.tick_files(
            seed + 2_000_003,
            TICK_HISTORY_POLLS,
            TICK_SYMBOLS,
            first_id=10**9,
            resend_share=0.0,
            t0=datagen.TICK_START - dt.timedelta(seconds=TICK_HISTORY_POLLS * TICK_POLL_S),
            event_seconds_per_file=TICK_POLL_S,
        )
    )
    landing = os.path.join(b.run_dir, "landing")
    backlog_dir = os.path.join(b.run_dir, "backlog")
    bronze = os.path.join(b.run_dir, "bronze")
    hist_file = os.path.join(b.run_dir, "history.parquet")
    for d in (landing, backlog_dir):
        os.makedirs(d)
    pq.write_table(history, hist_file)

    def prepare(spark) -> None:
        # the bronze table exists before the stream starts: yesterday's day
        (
            spark.read.parquet(hist_file)
            .withColumn("day", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(bronze)
        )

    b.start(prepare)
    spark = b.spark
    alerts: dict[int, float] = {}  # event_id -> emission time
    batch_walls: list[tuple[str, float]] = []
    phase = {"name": "warm"}
    last_batch, first_live = [-1], [0]
    rows_written: list[int] = []
    files_written: list[int] = []

    def handle(batch_df, batch_id: int) -> None:
        gid = f"tick:{phase['name']}:{batch_id}"
        last_batch[0] = batch_id
        b.group(gid, "tick batch")
        if phase["name"] != "warm":
            b.groups.append(gid)
        t0 = perf()
        t0_epoch = time.time()
        batch_df.persist()
        try:
            # watermark moves trigger no-data batches; a handler skips them
            if batch_df.isEmpty():
                return
            alert = ST.threshold_alerts(batch_df, ALERT_THRESHOLD).select("event_id")
            ids = [r[0] for r in alert.collect()]
            now = perf()
            for i in ids:
                alerts.setdefault(i, now)
            upd = batch_df.withColumn("day", F.to_date("ts"))
            n = sinks.merge_upsert_parquet(spark, bronze, upd, ["event_id"], partition_col="day")
            rows_written.append(n)
            if b.tracer:
                files_written.append(_parquet_files_since(bronze, t0_epoch))
        finally:
            batch_df.unpersist()
        batch_walls.append((phase["name"], perf() - t0))

    progress: list[dict] = []
    if b.tracer:
        spark.streams.addListener(T.make_stream_listener(progress))

    def run_query(source_dir: str, ckpt: str, **kw):
        stream = ST.ingest_file_stream(spark, source_dir, **kw)
        return (
            ST.bronze_ingest(stream)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", os.path.join(b.run_dir, ckpt))
        )

    # live phase: warm-up files first (untimed), then the open loop
    q = None
    for k0 in range(0, TICK_WARM_FILES, TICK_WARM_PER_BATCH):
        for k in range(k0, k0 + TICK_WARM_PER_BATCH):
            datagen.land(warm[k], landing, f"tick-{k:05d}.parquet")
        q = q or run_query(landing, "ckpt-live").start()
        q.processAllAvailable()
    phase["name"] = "live"
    first_live[0] = last_batch[0] + 1
    b.measure_from_here()
    gen = _Generator(live, landing, TICK_INTERVAL_S, TICK_WARM_FILES)
    t_live = perf()
    gen.start()
    gen.join()
    q.processAllAvailable()
    live_wall = perf() - t_live
    b.snapshot_memory()
    q.stop()

    # drain phase: a pre-landed backlog, processed to completion
    for k, tab in enumerate(backlog):
        datagen.land(tab, backlog_dir, f"tick-{k:05d}.parquet")
    phase["name"] = "drain"
    t0 = perf()
    dq = (
        run_query(backlog_dir, "ckpt-drain", max_files_per_trigger=TICK_BACKLOG_PER_TRIGGER)
        .trigger(availableNow=True)
        .start()
    )
    dq.awaitTermination()
    drain_wall = perf() - t0
    backlog_rows = sum(t.num_rows for t in backlog)

    # correctness, untimed: alert ids and bronze rows against numpy
    def distinct_events(tables):
        ids = np.concatenate([t["event_id"].to_numpy() for t in tables])
        vals = np.concatenate([t["value"].to_numpy() for t in tables])
        u, first = np.unique(ids, return_index=True)
        return u, vals[first]

    all_ids, all_vals = distinct_events(ticks + backlog)
    want_alerts = set(all_ids[all_vals > ALERT_THRESHOLD].tolist())
    b.op(set(alerts) == want_alerts, f"alert ids: got {len(alerts)} want {len(want_alerts)}")
    n_bronze = spark.read.parquet(bronze).count()
    want_bronze = history.num_rows + len(all_ids)
    b.op(n_bronze == want_bronze, f"bronze rows: got {n_bronze} want {want_bronze}")
    late_max = max(gen.late)
    b.op(late_max <= TICK_INTERVAL_S / 2, f"generator on time: late_max_s={late_max:.4f}")

    # latency: creation of an event's first copy → its alert, over live files
    seen = {int(i) for t in warm for i in t["event_id"].to_numpy()}
    lat = []
    for created, tab in zip(gen.created, live):
        for i, v in zip(tab["event_id"].to_numpy(), tab["value"].to_numpy()):
            if int(i) in seen:
                continue  # a re-send
            seen.add(int(i))
            if v > ALERT_THRESHOLD and int(i) in alerts:
                lat.append(alerts[int(i)] - created)
    live_batches = [w for p, w in batch_walls if p == "live"]
    measured = [w for p, w in batch_walls if p != "warm"]
    m = b.res.metrics
    m["generator.late_max_s"] = late_max
    b.res.detail |= {
        "live_files": len(live),
        "live_wall_s": live_wall,
        "drain_wall_s": drain_wall,
        "batch_walls_s": batch_walls,
        "alerts": len(alerts),
        "latency_samples": len(lat),
    }
    if b.tracer:
        _stream_metrics(m, progress, str(q.id), str(dq.id), first_live[0], gen)
        n = len(measured)
        m["sinks.rows_written"] = sum(rows_written[-n:]) / n
        m["sinks.files_written"] = sum(files_written[-n:]) / n
        b.res.detail["progress"] = progress
    primary = {
        "p50_s": _pct(lat, 50),
        "p90_s": _pct(lat, 90),
        "ops_per_s": backlog_rows / drain_wall,
        "pass_s": statistics.median(live_batches),
    }
    return b.finish(primary, len(measured), live_wall + drain_wall)


def _stream_metrics(m: dict, progress: list, live_id: str, drain_id: str, first_live: int, gen):
    """Per-batch means over the measured batches with data (live and
    drain), from StreamingQueryListener progress reports; the live
    query's dedup state at its last batch; the largest live backlog in
    files."""
    deadline = perf() + 10  # the listener bus delivers asynchronously
    while perf() < deadline and not any(p["id"] == drain_id for p in progress):
        time.sleep(0.1)
    live = [p for p in progress if p["id"] == live_id and p["batchId"] >= first_live]
    drain = [p for p in progress if p["id"] == drain_id]
    real = [p for p in live + drain if p.get("numInputRows", 0) > 0]
    n = max(1, len(real))

    def mean_s(*keys):
        return sum(p["durationMs"].get(k, 0) for p in real for k in keys) / n / 1000.0

    m["streaming.batches"] = float(len(real))
    m["streaming.batch_s"] = mean_s("triggerExecution")
    m["streaming.plan_s"] = mean_s("queryPlanning")
    m["streaming.add_batch_s"] = mean_s("addBatch")
    m["streaming.commit_s"] = mean_s("walCommit", "commitOffsets")
    state = [p["stateOperators"][0] for p in live if p.get("stateOperators")]
    if state:
        m["streaming.state_rows"] = float(state[-1].get("numRowsTotal", 0))
        m["streaming.state_bytes"] = float(state[-1].get("memoryUsedBytes", 0))
    m["streaming.late_rows_dropped"] = float(
        sum(so.get("numRowsDroppedByWatermark", 0) for p in live + drain for so in p["stateOperators"])
    )
    # live files landed but not yet read when each live batch's trigger fired
    read, backlog = 0, 0
    for p in live:
        fired = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        fired = fired.replace(tzinfo=dt.timezone.utc).timestamp()
        landed = sum(1 for t in gen.landed_epoch if t <= fired)
        backlog = max(backlog, landed - read)
        read += p.get("numInputRows", 0) // TICK_SYMBOLS
    m["streaming.backlog_files"] = float(backlog)


WORKLOADS = {"nightly_batch": nightly_batch, "tick_stream": tick_stream}


def run(args, work: str) -> Result:
    return WORKLOADS[args.workload](Bench(args, work))
