"""The benchmark workloads.

Each workload drives only public entry points of the program
(``PlaybackSession.start_async``, the registered query callables listed
in ``bench.HEADLINE``, ``etl.run_etl``) and times them from outside.

A workload provides ``warm_pass()`` (one set-up pass), ``window(traced)``
(the measured window: end-to-end values, plus layer values when traced)
and ``extras()`` (layer measurements only the traced run makes).
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import random
import shutil
import sys
import threading
import time
from datetime import datetime

import checks
import gen
import telemetry as tm
from telemetry import median, percentile

# Set-up: rounds of (fresh session + one warm pass). The first round also
# launches the JVM, so the median round is a warm one.
SETUP_ROUNDS = 3


def _iso_s(ts: str) -> float:
    """Progress timestamp ('2026-01-01T00:00:00.123Z') -> unix seconds."""
    return datetime.strptime(ts.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Harness:
    """Session lifecycle, set-up rounds, CPU and failure accounting shared
    by the workloads."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool) -> None:
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.tracer = tm.Tracer(trace)
        self.spark = None
        self.cpu: tm.ProcCpu | None = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.get_spark_s: list[float] = []

    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        return {
            # the UI (and its REST API) only in the traced run
            "spark.ui.enabled": "true" if self.trace else "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.checkpointLocation": os.path.join(self.work, "ckpt"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # -Xms = the driver heap: a heap that never resizes halved the
            # run-to-run spread of the ETL job times
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -Dderby.system.home={tmp}",
        }

    def new_session(self, master: str | None = None, partitions: int | None = None):
        from fledge_south_csvplayback_spark.session import get_spark

        self.stop()
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", master=master or "default"):
            self.spark = get_spark(
                app_name="perfbench", master=master,
                shuffle_partitions=partitions, extra_conf=self.conf(),
            )
        self.get_spark_s.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cpu = tm.ProcCpu(tm.jvm_pid(self.spark))
        return self.spark

    def setup(self, warm_pass) -> dict:
        """SETUP_ROUNDS rounds of (fresh session + one warm pass);
        ``setup_s`` is the median round, net of the host's steal over it.
        The JVM and its JIT persist across rounds, so the JIT warms while
        sessions restart."""
        rounds, spans, passes = [], [], []
        with tm.HostSteal() as steal:
            for n in range(SETUP_ROUNDS):
                start, t0 = time.time(), time.perf_counter()
                with self.tracer.span("setup.round", n=n):
                    self.new_session()
                    tp = time.perf_counter()
                    warm_pass()
                    passes.append(time.perf_counter() - tp)
                rounds.append(time.perf_counter() - t0)
                spans.append((start, time.time()))
        net = [r * (1 - steal.share(*sp)) for r, sp in zip(rounds, spans)]
        return {"setup_s": median(net), "rounds": rounds, "net_rounds": net, "warm_pass_s": passes}

    def cpu_read(self) -> tuple[float, float]:
        c = self.cpu.read()
        return c["jvm_cpu_s"], c["python_cpu_s"]

    def record(self, errs: list[str], ops: int = 1) -> None:
        """Account ``ops`` attempted operations, all failed if ``errs``."""
        self.attempted += ops
        if errs:
            self.failed += ops
            self.errors.extend(errs)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM and its Python workers, and wait
        until every one of those processes has ended."""
        import subprocess

        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        workers = tm.descendants(proc.pid)
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        tm.wait_gone(workers, timeout_s=10)
        SparkContext._gateway = SparkContext._jvm = None


class CpuMeter:
    """Accumulates JVM and Python CPU over the measured parts of a window."""

    def __init__(self, h: Harness) -> None:
        self.h, self.jvm, self.py = h, 0.0, 0.0

    def start(self) -> None:
        self._j, self._p = self.h.cpu_read()

    def stop(self) -> None:
        j, p = self.h.cpu_read()
        self.jvm += j - self._j
        self.py += p - self._p

    @property
    def total(self) -> float:
        return self.jvm + self.py

    def layers(self) -> dict[str, float]:
        return {"process.jvm_cpu_s": self.jvm, "process.python_cpu_s": self.py}


# =============================================================================
# playback: shared progress reading and addBatch split
# =============================================================================
def progress_layers(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians of the engine's own micro-batch telemetry."""

    def d(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    return {
        "streaming.playback.trigger_ms": median(d(p, "triggerExecution") for p in progress),
        "streaming.playback.add_batch_ms": median(d(p, "addBatch") for p in progress),
        "streaming.playback.log_ms": median(d(p, "walCommit", "commitOffsets") for p in progress),
        "streaming.playback.list_ms": median(d(p, "latestOffset") for p in progress),
        "streaming.playback.plan_ms": median(d(p, "getBatch", "queryPlanning") for p in progress),
        "streaming.playback.rows_per_batch": median(p["numInputRows"] for p in progress),
        "streaming.playback.batches": len(progress),
    }


def addbatch_split(h: Harness, cfg, path: str, reps: int = 5) -> dict[str, float]:
    """The three parts of one micro-batch's addBatch, timed by calling the
    same public functions on one landed file read as a static frame."""
    from fledge_south_csvplayback_spark.sources import csv_source
    from fledge_south_csvplayback_spark.streaming import playback as pb

    build, exec_, collect = [], [], []
    for _ in range(reps):
        df = csv_source.null_na_sentinels(
            h.spark.read.schema(gen.PLAYBACK_SCHEMA).option("header", True)
            .option("escape", '"').csv(path)
        )
        t0 = time.perf_counter()
        env = pb.to_envelope(pb.stamp_batch(df, cfg), cfg)
        t1 = time.perf_counter()
        env.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        env.collect()
        t3 = time.perf_counter()
        build.append(t1 - t0)
        exec_.append(t2 - t1)
        collect.append(t3 - t2)
    return {
        "streaming.playback.stamp_build_ms": median(build) * 1000,
        "operators.readings.exec_ms": median(exec_) * 1000,
        "driver.collect_ms": median(collect) * 1000,
    }


@contextlib.contextmanager
def traced_playback(h: Harness):
    """Spans around the stamping and envelope calls the stream makes."""
    from fledge_south_csvplayback_spark.streaming import playback as pb

    with tm.patched(pb, "stamp_batch", h.tracer.wrap("streaming.stamp_batch", pb.stamp_batch)), \
            tm.patched(pb, "to_envelope", h.tracer.wrap("streaming.to_envelope", pb.to_envelope)):
        yield


# =============================================================================
# playback_paced: open loop, one burst file due every interval
# =============================================================================
class PlaybackPaced:
    """The reference's default pacing (``PlaybackConfig`` defaults): burst
    mode, 8000 readings/s in one-second bursts, one file per burst,
    processing-time trigger. Set-up warm passes drain pre-landed bursts
    with AvailableNow (the same stamping, envelope and handoff, without
    waiting), which also gives the drain capacity."""

    # At 500 ms bursts a batch used ~70% of its slot, and a host stall
    # cost a slot (and 500 ms on every later burst) in 3 of 10 runs.
    SAMPLE_RATE, INTERVAL_MS = 8000, 1000
    LEAD_IN = 2  # bursts played before the measured ones
    # 8 drained bursts a round: after rounds of 3, the latency still fell
    # over a window's first ~15 bursts while the JIT caught up.
    WARM_FILES = 8

    def __init__(self, h: Harness) -> None:
        self.h = h
        self.rows = self.SAMPLE_RATE * self.INTERVAL_MS // 1000
        self.warm_dir = os.path.join(h.work, "paced_warm")
        self.warm_files = gen.land_playback_dir(self.warm_dir, h.seed, self.WARM_FILES, self.rows)
        self.warm_keys = {(s, r) for s in range(self.WARM_FILES) for r in range(self.rows)}
        self.n_measured = max(2, int(h.seconds * 1000 // self.INTERVAL_MS))
        self.windows = 0
        self.drain_rates: list[float] = []
        if self.cfg(self.warm_dir).chunk_size != self.rows:
            raise ValueError("burst size disagrees with the configured rate")

    def cfg(self, d: str, mode: str = "burst"):
        from fledge_south_csvplayback_spark.config import IngestMode, PlaybackConfig

        return PlaybackConfig(
            csv_dir_name=d, csv_file_name="burst", ingest_mode=IngestMode(mode),
            sample_rate=self.SAMPLE_RATE, burst_interval_ms=self.INTERVAL_MS,
        )

    def drain_pass(self, mode: str = "burst") -> dict:
        """One AvailableNow pass over the warm files, checked after it ends."""
        from fledge_south_csvplayback_spark.streaming import playback as pb

        got: list[checks.Delivery] = []
        t0 = time.perf_counter()
        with self.h.tracer.span("playback.start_async", available_now=True):
            q = pb.PlaybackSession(
                self.h.spark, self.cfg(self.warm_dir, mode), gen.PLAYBACK_SCHEMA
            ).start_async(lambda rows, b: got.append(checks.summarize(rows, b)),
                          available_now=True)
            q.awaitTermination()
        wall = time.perf_counter() - t0
        starts = {p["batchId"]: _iso_s(p["timestamp"]) for p in q.recentProgress}
        errs = checks.playback_exactly_once((d.keys for d in got), self.warm_keys)
        for d in got:
            if mode == "burst":
                errs += checks.burst_stamps(d.stamps)
            else:
                errs += checks.continuous_stamps(d.stamps, starts.get(d.batch_id, 0.0), d.at)
        readings = sum(len(d.keys) for d in got)
        return {"rate": readings / wall, "errs": errs, "batches": len(got)}

    def warm_pass(self) -> None:
        p = self.drain_pass()
        if p["errs"]:
            raise RuntimeError("; ".join(p["errs"][:5]))
        self.drain_rates.append(p["rate"])

    def window(self, traced: bool = False) -> dict:
        """Play pre-landed bursts at the configured rate and time each one
        from its due time.

        As in the reference, the input exists before playback starts and
        the configured rate alone decides when each burst is due. The
        processing-time trigger fires at multiples of the interval since
        the epoch, one file per trigger, and a slot it misses is never
        made up: after a stall, every later burst plays late. Due times
        count from the slot of the first measured burst, once the query's
        start-up (the lead-in bursts) is over."""
        from fledge_south_csvplayback_spark.streaming import playback as pb

        h, cpu = self.h, CpuMeter(self.h)
        self.windows += 1
        d = os.path.join(h.work, f"paced_{self.windows}")
        n = self.LEAD_IN + self.n_measured
        gen.land_playback_dir(d, h.seed + self.windows, n, self.rows)
        got: list[checks.Delivery] = []
        lead_in_done, all_done = threading.Event(), threading.Event()

        def deliver(rows, batch_id: int) -> None:
            got.append(checks.summarize(rows, batch_id))
            delivered = sum(len(dl.keys) for dl in got)
            if delivered >= self.LEAD_IN * self.rows:
                lead_in_done.set()
            if delivered >= n * self.rows:
                all_done.set()

        # The waits block on events the callback sets and ask the query
        # whether it is alive once a second, so this thread does not compete
        # with the measured bursts for the GIL and py4j.
        deadline = time.time() + n * self.INTERVAL_MS / 1000 + 30

        def wait(event: threading.Event) -> None:
            while not event.wait(1.0) and time.time() < deadline and q.isActive:
                pass

        with traced_playback(h) if traced else contextlib.nullcontext(), tm.HostSteal() as steal:
            session = pb.PlaybackSession(h.spark, self.cfg(d), gen.PLAYBACK_SCHEMA)
            with h.tracer.span("playback.start_async", available_now=False):
                q = session.start_async(deliver)
            wait(lead_in_done)  # CPU counts after the lead-in
            cpu.start()
            wait(all_done)
            # a batch's progress is posted once it commits, after delivery
            ids = {dl.batch_id for dl in got if dl.keys}
            while True:
                progress = {p["batchId"]: p for p in q.recentProgress if p["numInputRows"]}
                if ids <= progress.keys() or time.time() > deadline or not q.isActive:
                    break
                time.sleep(0.05)
            cpu.stop()
            session.stop()

        # untimed: the i-th data batch plays the i-th burst; check, compute
        played = sorted((dl for dl in got if dl.keys and dl.batch_id in progress),
                        key=lambda dl: dl.batch_id)
        if len(played) <= self.LEAD_IN:
            h.record(["the measured bursts never ran"], ops=self.n_measured)
            return {"throughput_per_s": 0.0, "latency_p50_ms": 0.0, "cpu_ms_per_item": 0.0,
                    "layers": {}}
        # the trigger slot of the first measured burst: on time, it fires
        # at the slot itself; late, it fires right after a slow batch
        iv_ms = self.INTERVAL_MS
        start_ms = round(_iso_s(progress[played[self.LEAD_IN].batch_id]["timestamp"]) * 1000)
        start_ms = start_ms // iv_ms * iv_ms
        # a burst's latency is counted net of the host's steal over it
        # (see README.md): the program's time, not other guests'
        lat, stolen, lag, deliveries, measured = [], [], [], [], []
        errs = [e for dl in got for e in checks.burst_stamps(dl.stamps)]
        for i, dl in enumerate(played[self.LEAD_IN:]):
            due = (start_ms + i * iv_ms) / 1000
            measured.append(dl.keys)
            stolen.append(steal.share(due, dl.at))
            lat.append((dl.at - due) * 1000 * (1 - stolen[-1]))
            lag.append((_iso_s(progress[dl.batch_id]["timestamp"]) - due) * 1000)
            deliveries.append(dl.at)
        if [min(k for k, _ in dl.keys) for dl in played] != list(range(len(played))):
            errs.append("bursts played out of order")
        errs += checks.playback_exactly_once(
            measured, {(k, r) for k in range(self.LEAD_IN, n) for r in range(self.rows)}
        )
        h.record(errs, ops=self.n_measured)
        print(f"net burst latency ms {[round(x) for x in lat]}, "
              f"steal share {[round(x, 3) for x in stolen]}", file=sys.stderr)
        readings = sum(len(keys) for keys in measured)
        deliveries.sort()
        span = deliveries[-1] - deliveries[0] if len(deliveries) > 1 else 0.0
        # achieved rate between the first and last measured delivery
        achieved = (len(deliveries) - 1) * self.rows / span if span > 0 else 0.0
        return {
            "throughput_per_s": achieved,
            "latency_p50_ms": median(lat),
            "cpu_ms_per_item": cpu.total * 1000 / readings if readings else 0.0,
            "layers": {
                **progress_layers(list(progress.values())),
                "streaming.playback.trigger_lag_ms": percentile(lag, 90),
                "streaming.playback.latency_p90_ms": percentile(lat, 90),
                "streaming.playback.rate_ratio": achieved / self.SAMPLE_RATE,
                "host.steal_share": steal.share(deliveries[0], deliveries[-1]),
                **cpu.layers(),
            },
        }

    def extras(self) -> dict[str, float]:
        h = self.h
        out = addbatch_split(h, self.cfg(self.warm_dir), self.warm_files[0])
        out["streaming.playback.drain_readings_per_s"] = self.drain_rates[-1]
        # single-thread baseline: one drain pass, with continuous stamping
        # so that mode's stamps are checked too
        h.new_session(master="local[1]", partitions=1)
        p = self.drain_pass(mode="continuous")
        h.record(p["errs"], ops=max(p["batches"], 1))
        out["baseline.local1_throughput_per_s"] = p["rate"]
        return out


# =============================================================================
# analytics_sf0.1: closed loop, one query at a time
# =============================================================================
# A pass over all 50 headline queries takes about a minute on 4 cores, more
# than a run may take; these are one headline row per operators module
# (see README.md). Names must be in bench.HEADLINE.
ANALYTICS_QUERIES = (
    "q5_regional_revenue",  # relational: star join, five schema-inference reads
    "text_boilerplate_scrub",  # text: eager cache+count guard
    "multimodal_features",  # multimodal: Arrow mapInPandas workers
    "clean_interpolate",  # clean_queries: global fill windows
)
ANALYTICS_MODULES = ("relational", "text", "multimodal", "clean_queries")
MODULE_METRICS = ("build_s", "exec_s", "build_jobs", "exec_jobs", "tasks",
                  "shuffle_write_bytes", "spill_bytes", "max_task_ms")
TABLE_VERSION = "v1"
EXPECTED_COUNTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_counts.json")


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


class Analytics:
    # warm passes run at sf0.001, as bench.py warms: a pass costs about
    # the same at either scale, since per-query driver and job overhead
    # dominates it, and the smaller tables keep set-up short
    SF, WARM_SF = 0.1, 0.001

    def __init__(self, h: Harness) -> None:
        import bench
        from fledge_south_csvplayback_spark import registry

        self.h = h
        cache = os.path.join(os.path.dirname(h.work), f"tables-{TABLE_VERSION}")
        self.dir = gen.write_tables(os.path.join(cache, f"sf{self.SF}"), self.SF)
        self.warm_dir = gen.write_tables(os.path.join(cache, f"sf{self.WARM_SF}"), self.WARM_SF)
        qs = {**registry.all_queries(), **bench.EXTRA_QUERIES}
        missing = [n for n in ANALYTICS_QUERIES if n not in bench.HEADLINE or n not in qs]
        if missing:
            raise ValueError(f"analytics queries missing from bench.HEADLINE: {missing}")
        self.qs = {n: qs[n] for n in ANALYTICS_QUERIES}
        self.order = list(ANALYTICS_QUERIES)
        random.Random(h.seed).shuffle(self.order)
        self.expected = self.expected_counts(registry.all_oracle_sql())

    def expected_counts(self, oracle: dict[str, str]) -> dict[str, int | None]:
        """DuckDB's count of the registered oracle SQL; the recorded count
        for queries registered without SQL or kept only in the bench."""
        import duckdb

        with open(EXPECTED_COUNTS) as f:
            recorded = json.load(f)["sf0.1"]
        out: dict[str, int | None] = {}
        con = duckdb.connect()
        try:
            for t in os.listdir(self.dir):
                con.execute(
                    f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{self.dir}/{t}')"
                )
            for n in ANALYTICS_QUERIES:
                if n in oracle:
                    out[n] = con.execute(f"SELECT count(*) FROM ({oracle[n]})").fetchone()[0]
                else:
                    out[n] = recorded.get(n)
        finally:
            con.close()
        return out

    def run_query(self, name: str, sf_dir: str, stages: tm.SparkStages | None = None) -> dict:
        """build = the query callable with its eager jobs; exec = the noop
        write, whose row count an Observation reads."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        sc, tr = self.h.spark.sparkContext, self.h.tracer
        fn = self.qs[name]
        if stages:
            sc.setJobGroup(f"{name}:build", name)
        start, t0 = time.time(), time.perf_counter()
        with tr.span("query", query=name, module=module_of(fn)):
            with tr.span("query.build", query=name):
                df = fn(self.h.spark, sf_dir)
            t1 = time.perf_counter()
            if stages:
                sc.setJobGroup(f"{name}:exec", name)
            obs = Observation(f"rows_{name}")
            with tr.span("query.exec", query=name):
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                    "noop").mode("overwrite").save()
            t2 = time.perf_counter()
        if stages:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rows = obs.get["rows"]
        self.h.spark.catalog.clearCache()  # every query starts cold, as in bench.py
        return {"name": name, "module": module_of(fn), "build": t1 - t0, "exec": t2 - t1,
                "wall": t2 - t0, "span": (start, start + t2 - t0), "rows": rows}

    def warm_pass(self) -> None:
        for n in self.order:
            self.run_query(n, self.warm_dir)

    def window(self, traced: bool = False) -> dict:
        h, cpu = self.h, CpuMeter(self.h)
        stages = tm.SparkStages(h.spark) if traced else None
        passes, t_end = [], time.perf_counter() + h.seconds
        with tm.HostSteal() as steal:
            while not passes or time.perf_counter() < t_end:
                cpu.start()
                res = [self.run_query(n, self.dir, stages) for n in self.order]
                cpu.stop()
                for r in res:
                    h.record(checks.row_count(r["name"], r["rows"], self.expected[r["name"]]))
                passes.append(res)
        # a query's wall time is counted net of the host's steal over it
        # (see README.md): the program's time, not other guests'
        for r in (r for p in passes for r in p):
            r["net"] = r["wall"] * (1 - steal.share(*r["span"]))
        layers = {**cpu.layers(), "host.steal_share": steal.share(
            passes[0][0]["span"][0], passes[-1][-1]["span"][1])}
        if traced:
            layers.update(self.module_layers(passes, stages))
        # the queries differ in cost by ~3x, so a single query's latency
        # flips between two of them; a pass's mean query time does not
        pass_ms = [sum(r["net"] for r in p) / len(p) * 1000 for p in passes]
        print(f"net pass mean query ms {[round(x) for x in pass_ms]}, "
              f"steal share {layers['host.steal_share']:.3f}", file=sys.stderr)
        n_queries = sum(len(p) for p in passes)
        return {
            "throughput_per_s": n_queries / sum(r["net"] for p in passes for r in p),
            "latency_p50_ms": median(pass_ms),
            "cpu_ms_per_item": cpu.total * 1000 / n_queries,
            "layers": layers,
        }

    def module_layers(self, passes, stages: tm.SparkStages) -> dict[str, float]:
        """Per operators module: build/exec seconds (median pass), the jobs
        each phase ran, and the stage numbers of both phases (per pass)."""
        out: dict[str, float] = {}
        for mod in ANALYTICS_MODULES:
            names = [n for n in ANALYTICS_QUERIES if module_of(self.qs[n]) == mod]
            for phase in ("build", "exec"):
                out[f"operators.{mod}.{phase}_s"] = median(
                    sum(r[phase] for r in p if r["module"] == mod) for p in passes
                )
            build = [j for n in names for j in stages.jobs(f"{n}:build")]
            exec_ = [j for n in names for j in stages.jobs(f"{n}:exec")]
            out[f"operators.{mod}.build_jobs"] = len(build) / len(passes)
            out[f"operators.{mod}.exec_jobs"] = len(exec_) / len(passes)
            st = stages.stage_metrics(stages.stage_ids(build + exec_))
            for k in ("tasks", "shuffle_write_bytes", "spill_bytes"):
                out[f"operators.{mod}.{k}"] = st[k] / len(passes)
            out[f"operators.{mod}.max_task_ms"] = st["max_task_ms"]
        return out

    def extras(self) -> dict[str, float]:
        return EtlRepair(self.h).layers()


# =============================================================================
# ETL repair: layers measured in the analytics workload's traced run
# =============================================================================
class EtlRepair:
    """``etl.run_etl(spark, in, out, "fill", "linear")``, the CLI defaults,
    on a seeded CSV with ~5% holes per channel; every output is checked
    against pandas. Not a timed workload of its own (README.md says why):
    the analytics workload's traced run measures its layers."""

    # The global-window repair is quadratic in rows. At 1000 rows the
    # write (which runs the windows) is a minority of a ~1 s job; the
    # scaling exponent, from exec time at 2x the rows, still shows it.
    ROWS = 1000
    WARM_JOBS, TRACED_JOBS = 2, 5

    def __init__(self, h: Harness) -> None:
        self.h = h
        self.inputs: dict[int, tuple[str, gen.pd.DataFrame]] = {}
        self.jobs = 0

    def add_input(self, rows: int) -> None:
        path = os.path.join(self.h.work, "etl", f"in_{rows}.csv")
        self.inputs[rows] = (path, gen.write_etl_input(path, self.h.seed, rows))

    def job(self, rows: int, traced: bool = False) -> dict:
        """One checked ETL job; traced, it also splits the repair build
        (with its eager count job) from the write and counts the window
        stage's tasks."""
        from fledge_south_csvplayback_spark import etl

        h = self.h
        path, frame = self.inputs[rows]
        self.jobs += 1
        out = os.path.join(h.work, "etl", f"out_{self.jobs}")
        group, marks = f"etl:{self.jobs}", {}
        orig_repair = etl.repair

        def repair(*a, **kw):  # the repair build, with its eager count job
            t = time.perf_counter()
            try:
                return orig_repair(*a, **kw)
            finally:
                marks["built_at"] = time.perf_counter()
                marks["build"] = marks["built_at"] - t

        patch = tm.patched(etl, "repair", h.tracer.wrap("etl.repair", repair))
        with patch if traced else contextlib.nullcontext():
            if traced:
                h.spark.sparkContext.setJobGroup(group, "etl")
            t0 = time.perf_counter()
            with h.tracer.span("etl.run_etl", rows=rows):
                etl.run_etl(h.spark, path, out, "fill", "linear")
            t1 = time.perf_counter()
        r = {"wall": t1 - t0}
        if traced:
            sc = h.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", None)
            r["build"] = marks["build"]
            r["exec"] = t1 - marks["built_at"]  # the CSV write that runs the windows
            last = tm.SparkStages(h.spark).stage_ids(sc.statusTracker().getJobIdsForGroup(group))
            info = sc.statusTracker().getStageInfo(last[-1]) if last else None
            r["window_tasks"] = info.numTasks if info else 0
        errs = checks.etl_linear_fill(frame, checks.read_csv_dir(out))
        h.record(errs)
        shutil.rmtree(out, ignore_errors=True)
        return r

    def layers(self) -> dict[str, float]:
        """Warm jobs, then traced jobs at N rows and one at 2N, then one
        job at ``local[1]`` as the single-thread baseline."""
        for rows in (self.ROWS, 2 * self.ROWS):
            self.add_input(rows)
        for _ in range(self.WARM_JOBS):
            self.job(self.ROWS)
        jobs = [self.job(self.ROWS, traced=True) for _ in range(self.TRACED_JOBS)]
        exec_s = median(j["exec"] for j in jobs)
        double = self.job(2 * self.ROWS, traced=True)
        out = {
            "etl.repair_build_s": median(j["build"] for j in jobs),
            "operators.clean.exec_s": exec_s,
            "operators.clean.window_tasks": jobs[-1]["window_tasks"],
            "operators.clean.scaling_exponent": math.log2(double["exec"] / exec_s),
        }
        self.h.new_session(master="local[1]", partitions=1)
        out["baseline.local1_throughput_per_s"] = self.ROWS / self.job(self.ROWS)["wall"]
        return out


WORKLOADS = {
    "playback_paced": PlaybackPaced,
    "analytics_sf0.1": Analytics,
}
