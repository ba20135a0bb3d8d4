"""The two closed-loop workloads and the layer probes they read.

`dashboard`: one client refreshes a fixed 7-panel dashboard through
`api.query_range` / `api.query` over a store built at set-up; writes idle.

`ingest_with_reads`: one client lands one pre-staged 60 s envelope file,
waits for the `foreachBatch` stream (nozzle → rollups → `write_samples`),
probes until the newest tick is queryable, then runs one panel of a
3-panel rotation; no compaction, so the store fragments as it grows.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import ExitStack, nullcontext
from dataclasses import dataclass, replace

import gen
from stats import Metrics, digest, median, percentile
from spans import Tracer

#: `api` calls slower than this count as failed (the reference's 10 s
#: query timeout; `api` collects outside PromQLEngine.execute's timer)
QUERY_TIMEOUT_S = 10.0
FLEET = gen.Fleet(sources=4, instances=2)
MINUTE_MS = 60_000


@dataclass(frozen=True)
class Panel:
    name: str
    promql: str
    range_ms: int = 0  # 0 → instant query
    step_ms: int = MINUTE_MS


PANELS = (
    Panel("http_rate_by_source",
          "sum by (source_id) (rate(http_total[5m]))", 60 * MINUTE_MS),
    Panel("http_error_ratio",
          'sum by (source_id) (rate(http_total{status_code="500"}[5m]))'
          " / sum by (source_id) (rate(http_total[5m]))", 60 * MINUTE_MS),
    Panel("http_latency_p99",
          "histogram_quantile(0.99, sum by (le) "
          "(rate(http_duration_seconds_bucket[5m])))", 60 * MINUTE_MS),
    Panel("cpu_avg_one_app", 'avg_over_time(cpu{source_id="app-1"}[10m])',
          80 * MINUTE_MS, 10 * MINUTE_MS),
    Panel("memory_topk", "topk(5, memory)"),
    Panel("cpu_per_memory", "cpu / ignoring(unit) memory", 30 * MINUTE_MS),
    Panel("canary_count", "sum(count_over_time(cpu[2h]))"),
)
PANEL = {p.name: p for p in PANELS}
#: ingest_with_reads reads the last 15 min through these, one per cycle
INGEST_ROTATION = tuple(
    replace(PANEL[n], range_ms=15 * MINUTE_MS if PANEL[n].range_ms else 0)
    for n in ("http_rate_by_source", "memory_topk", "cpu_per_memory")
)
#: the freshness probe: newest sample time of any cpu series
PROBE = Panel("probe", "max(timestamp(cpu))")
PROBE_MAX_ATTEMPTS = 20

DASHBOARD_TICKS = 480  # 80 min of history
#: "now" slides one minute per refresh over this many positions
DASHBOARD_POSITIONS = 10
INGEST_HISTORY_TICKS = 180  # 30 min
CYCLE_TICKS = 6  # one landed file = 60 s of envelopes
#: ingest_with_reads lands this many cycles in its warm-up, after reading
#: the history once with the probe and each rotation panel: the stream's
#: first batch after the history still runs on a cold JVM
INGEST_WARM_CYCLES = 1
#: a run measures round(--seconds / this) iterations (at least one, two
#: when tracing), so every run of a seed measures the same work; one
#: iteration (a refresh, or one ingest cycle per rotation panel) takes
#: 10-20 s on a 4-core box
NOMINAL_ITERATION_S = 12.0
#: the timed loop stops early past this multiple of --seconds
LOOP_CAP = 5
#: local[CORES] with as many shuffle partitions; small data, few threads
CORES = 2

END_TO_END = (
    ("setup_s", "s"),
    ("iteration_p50_ms", "ms"),
    ("success_ratio", "ratio"),
    ("store_bytes_per_point", "B/point"),
    ("peak_rss_mb", "MB"),
)
_STREAM_PHASES = (
    ("trigger_ms", "triggerExecution"),
    ("add_batch_ms", "addBatch"),
    ("get_batch_ms", "getBatch"),
    ("query_planning_ms", "queryPlanning"),
    ("wal_commit_ms", "walCommit"),
    ("commit_offsets_ms", "commitOffsets"),
)
PER_LAYER = (
    [
        ("promql.parse_ms", "ms"),
        ("engine.build_ms", "ms"),
        ("admission.bound_ms", "ms"),
        ("admission.guarded_share", "ratio"),
        ("catalyst.analysis_ms", "ms"),
        ("catalyst.optimization_ms", "ms"),
        ("catalyst.planning_ms", "ms"),
        ("exec_ms", "ms"),
        ("spark.jobs_per_query", "count"),
        ("spark.stages_per_query", "count"),
        ("spark.tasks_per_query", "count"),
        ("spark.shuffle_bytes_per_query", "B"),
        ("spark.gc_ms_per_query", "ms"),
        ("api.format_ms", "ms"),
        ("api.points_per_query", "count"),
    ]
    + [(f"panel.{p.name}.{k}", u) for p in PANELS
       for k, u in (("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"))]
    + [(f"streaming.{k}", "ms") for k, _ in _STREAM_PHASES]
    + [
        ("streaming.points_per_s", "points/s"),
        ("streaming.lag_p50_ms", "ms"),
        ("nozzle.build_ms", "ms"),
        ("nozzle.points_per_envelope", "ratio"),
        ("storage.write_ms", "ms"),
        ("storage.files_per_batch", "count"),
        ("storage.files_total", "count"),
        ("storage.read_ms", "ms"),
        ("probe.attempts_per_batch", "count"),
        ("calib.cpu_start_s", "s"),
        ("calib.cpu_end_s", "s"),
        ("calib.spark_start_s", "s"),
        ("calib.spark_end_s", "s"),
        ("trace.overhead_pct", "%"),
    ]
)


def start_session(work: str):
    from metric_store_release_spark.session import get_spark

    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    # the environment variable, when set, overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            # a fixed 1 GiB heap: the JVM's resident size then tracks what
            # the run touches, not how far the collector let the heap grow;
            # the JVM sizes its compiler and collector threads for CORES
            # processors and collects on one, so the run's own threads
            # leave a core to the Python driver
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-Xms1g -XX:-UsePerfData -XX:ActiveProcessorCount={CORES} "
                f"-XX:+UseSerialGC -Djava.io.tmpdir={local}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # an idle stream lists its directory every pollingDelay (10 ms
            # by default, about half a core here), beside every probe and
            # panel read; at 100 ms it costs little and adds at most
            # 0.1 s to a file's wait for its batch
            "spark.sql.streaming.pollingDelay": "100ms",
            # keep every job and stage of a run for the per-query counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def calibrate(spark) -> tuple[float, float]:
    """Fixed-work drift anchors with pinned results: a CPython xorshift
    loop and a fixed `spark.range` job. Medians of three."""

    def cpu_once() -> float:
        t0 = time.perf_counter()
        x = 88172645463325252
        for _ in range(300_000):
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        if x != 12507529989260150048:
            raise RuntimeError("cpu anchor computed a wrong result")
        return time.perf_counter() - t0

    def spark_once() -> float:
        t0 = time.perf_counter()
        got = (
            spark.range(0, 10_000_000, 1, CORES)
            .selectExpr("sum((id * 2654435761) % 1000003) AS s")
            .collect()[0]["s"]
        )
        if got != 5000011925929:
            raise RuntimeError("spark anchor computed a wrong result")
        return time.perf_counter() - t0

    spark_once()
    return (
        median(cpu_once() for _ in range(3)),
        median(spark_once() for _ in range(3)),
    )


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat:
    steal is time the host ran something else on this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def peak_rss_mb(spark) -> tuple[float, float]:
    """VmHWM of this process and of the driver JVM, MB."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        raise RuntimeError(f"no VmHWM for pid {pid}")

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return hwm_kb("self") / 1024.0, hwm_kb(jvm_pid) / 1024.0


def parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


def store_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


def to_points(envelopes):
    """The ingest operators: gauges and counters through the nozzle, HTTP
    timers through the counter and histogram rollups."""
    from metric_store_release_spark.streaming.nozzle import envelopes_to_points
    from metric_store_release_spark.streaming.rollup import (
        rollup_counters,
        rollup_histograms,
    )

    return (
        envelopes_to_points(envelopes)
        .unionByName(rollup_counters(envelopes).select("ts", "name", "value", "labels"))
        .unionByName(rollup_histograms(envelopes))
    )


@dataclass
class QueryRecord:
    qid: str
    panel: str
    ms: float
    points: int
    traced: bool
    build_ms: float = 0.0
    exec_ms: float = 0.0
    catalyst: tuple[float, float, float] = (0.0, 0.0, 0.0)


class Run:
    """One benchmark run: set-up, warm-up, timed loop, checks, metrics."""

    def __init__(self, work: str, workload: str, seed: int, seconds: float,
                 trace: bool) -> None:
        self.work = work
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.n_iter = max(2 if trace else 1, round(seconds / NOMINAL_ITERATION_S))
        self.tracer = Tracer()
        self.queries: list[QueryRecord] = []
        self.iterations: list[tuple[float, bool]] = []  # (ms, traced)
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        #: "panel@now_ms" → digest of every answer this run got
        self.digests: dict[str, str] = {}
        self.metrics = Metrics()
        self.extra: list[str] = []
        self._qn = 0
        #: wall seconds of each phase of the run, for the report
        self.phases: dict[str, float] = {}
        self._guarded = 0
        self._df = None
        self._build_ms = self._exec_ms = 0.0

    # ------------------------------------------------------------ plumbing
    def _fail(self, what: str) -> None:
        """A failed attempt that is also a wrong answer."""
        self.failed += 1
        self.wrong.append(what)

    def _traced_layers(self):
        """Wrap the layer functions the benchmark's calls reach, for one
        traced iteration: parse and admission inside the engine build, the
        build itself and the result's collect."""
        from metric_store_release_spark.engine import admission
        from metric_store_release_spark.engine import engine as engine_mod

        tracer = self.tracer
        run = self

        def wrap(module, attr, span):
            orig = getattr(module, attr)

            def traced(*a, **k):
                with tracer.span(span):
                    return orig(*a, **k)

            setattr(module, attr, traced)
            return lambda: setattr(module, attr, orig)

        def guard(*a, **k):
            run._guarded += 1
            return guard.orig(*a, **k)

        build_orig = type(self.engine).query_range.__get__(self.engine)

        def build(*a, **k):
            t0 = time.perf_counter()
            with tracer.span("engine.build"):
                df = build_orig(*a, **k)
            run._build_ms = (time.perf_counter() - t0) * 1000
            collect = df.collect

            def traced_collect():
                t0 = time.perf_counter()
                with tracer.span("exec"):
                    rows = collect()
                run._exec_ms = (time.perf_counter() - t0) * 1000
                return rows

            df.collect = traced_collect
            run._df = df
            return df

        stack = ExitStack()
        stack.callback(wrap(engine_mod, "parse", "promql.parse"))
        stack.callback(wrap(admission, "static_sample_bound", "admission.bound"))
        guard.orig = admission.attach_sample_guard
        admission.attach_sample_guard = guard
        stack.callback(lambda: setattr(admission, "attach_sample_guard", guard.orig))
        self.engine.query_range = build
        stack.callback(lambda: delattr(self.engine, "query_range"))
        tracer.active = True
        stack.callback(lambda: setattr(tracer, "active", False))
        return stack

    def read_store(self):
        from metric_store_release_spark.sources.storage import read_samples

        with self.tracer.span("storage.read"):
            return read_samples(self.spark, self.store)

    def call(self, samples, panel: Panel, now_ms: int, traced: bool) -> dict | None:
        """One PromQL call through `api`, timed to a JSON-ready response.
        Returns None (and counts a failure) on error or timeout."""
        from metric_store_release_spark import api

        self._qn += 1
        qid = f"q{self._qn}"
        sc = self.spark.sparkContext
        self.attempted += 1
        if traced:
            sc.setJobGroup(qid, panel.name)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("api", root=qid):
                if panel.range_ms:
                    resp = api.query_range(
                        self.engine, samples, panel.promql,
                        now_ms - panel.range_ms, now_ms, panel.step_ms,
                    )
                else:
                    resp = api.query(self.engine, samples, panel.promql, now_ms)
        except Exception as e:  # a failed query is a result, not a crash
            self._fail(f"{panel.name} raised {type(e).__name__}: {e}")
            return None
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        ms = (time.perf_counter() - t0) * 1000.0
        points = sum(len(s.get("values", ())) or 1 for s in resp["data"]["result"])
        rec = QueryRecord(qid, panel.name, ms, points, traced)
        if traced:
            phases = self._df._jdf.queryExecution().tracker().phases()
            rec.catalyst = tuple(
                float(phases.get(p).get().durationMs()) if phases.contains(p) else 0.0
                for p in ("analysis", "optimization", "planning")
            )
            rec.build_ms, rec.exec_ms = self._build_ms, self._exec_ms
        self.queries.append(rec)
        if ms > QUERY_TIMEOUT_S * 1000:
            self.failed += 1
        if panel is not PROBE:  # a retried probe legitimately sees older data
            key, d = f"{panel.name}@{now_ms}", digest(resp)
            if self.digests.setdefault(key, d) != d:
                self._fail(f"{key}: answer changed between two calls")
        return resp

    # ------------------------------------------------------------- checks
    def check_panel(self, panel: Panel, resp: dict, now_ms: int,
                    last_tick: int) -> None:
        """Generator-arithmetic invariants; `last_tick` is the newest tick
        in the store."""
        tl = self.timeline
        res = resp["data"]["result"]
        k_now = (now_ms - gen.T0_MS) // gen.TICK_MS
        ok = True
        if panel.name == "canary_count":
            ok = len(res) == 1 and float(res[0]["value"][1]) == FLEET.size * (k_now + 1)
        elif panel.name == "memory_topk":
            want = sorted(
                ((v[1], s, i) for (s, i), v in tl.gauges[k_now].items()),
                reverse=True,
            )[:5]
            got = sorted(
                ((float(r["value"][1]), r["metric"]["source_id"],
                  r["metric"]["instance_id"]) for r in res),
                reverse=True,
            )
            ok = got == want
        elif panel.name == "cpu_per_memory":
            ok = len(res) == FLEET.size
            for r in res:
                key = (r["metric"]["source_id"], r["metric"]["instance_id"])
                for t, v in r["values"]:
                    cpu, mem = tl.gauges[(int(t * 1000) - gen.T0_MS) // gen.TICK_MS][key]
                    ok = ok and float(v) == cpu / mem
                ok = ok and len(r["values"]) == panel.range_ms // panel.step_ms + 1
        elif panel.name == "cpu_avg_one_app":
            for r in res:
                inst = r["metric"]["instance_id"]
                for t, v in r["values"]:
                    kt = (int(t * 1000) - gen.T0_MS) // gen.TICK_MS
                    ks = [k for k in range(kt - 60, kt + 1) if 0 <= k <= last_tick]
                    want = sum(tl.gauges[k][("app-1", inst)][0] for k in ks) / len(ks)
                    ok = ok and math.isclose(float(v), want, rel_tol=1e-9)
            ok = ok and len(res) == FLEET.instances
        elif panel.name in ("http_rate_by_source", "http_error_ratio"):
            ok = 0 < len(res) <= FLEET.sources
        elif panel.name == "http_latency_p99":
            ok = len(res) == 1
        if not ok:
            self._fail(f"{panel.name} at {now_ms}: wrong answer")

    # -------------------------------------------------------- spark counts
    def spark_counts(self) -> dict[str, tuple]:
        """Per traced query: (jobs, stages, tasks, shuffle bytes, gc ms)
        from the status tracker and the live status store."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        out = {}
        for q in self.queries:
            if not q.traced:
                continue
            jobs = tracker.getJobIdsForGroup(q.qid)
            stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
            tasks = shuffle = gc = 0
            for s in stages:
                sd = store.lastStageAttempt(s)
                tasks += sd.numTasks()
                shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                gc += sd.jvmGcTime()
            out[q.qid] = (len(jobs), len(stages), tasks, shuffle, gc)
        return out

    # ----------------------------------------------------------- workloads
    def setup(self) -> None:
        t0 = time.perf_counter()
        os.makedirs(self.work, exist_ok=True)
        self.spark = start_session(self.work)
        from pyspark.sql import functions as F

        from metric_store_release_spark.engine.engine import PromQLEngine
        from metric_store_release_spark.streaming.nozzle import ENVELOPE_SCHEMA

        self.engine = PromQLEngine(self.spark)
        self.store = os.path.join(self.work, "store")
        if self.workload == "dashboard":
            self.history = DASHBOARD_TICKS
            n_ticks = self.history
        else:
            self.history = INGEST_HISTORY_TICKS
            # staged at set-up: exactly the cycles this run lands
            n_cycles = INGEST_WARM_CYCLES + self.n_iter * len(INGEST_ROTATION)
            n_ticks = self.history + n_cycles * CYCLE_TICKS
        self.timeline = gen.generate(self.seed, FLEET, n_ticks)
        env_path = os.path.join(self.work, "envelopes.parquet")
        gen.write_parquet(self.timeline, env_path)
        schema = ENVELOPE_SCHEMA.add("tick", "long")
        env = self.spark.read.schema(schema).parquet(env_path)
        if self.workload == "dashboard":
            from metric_store_release_spark.sources.storage import write_samples

            write_samples(to_points(env.drop("tick")), self.store)
        else:
            # the history lands as cycle -1, so the stream builds the
            # initial store through the same path the cycles take
            self.stage = os.path.join(self.work, "stage")
            cycle = F.when(F.col("tick") < self.history, -1).otherwise(
                F.floor((F.col("tick") - self.history) / CYCLE_TICKS)
            )
            # one task writes every cycle: one file per cycle, no shuffle
            (
                env.withColumn("cycle", cycle)
                .drop("tick")
                .coalesce(1)
                .write.partitionBy("cycle")
                .parquet(self.stage)
            )
            self.watch = os.path.join(self.work, "watch")
            os.makedirs(self.watch)
            self._stream_span: tuple[int, str] | None = None
            self.stream = (
                self.spark.readStream.schema(ENVELOPE_SCHEMA)
                .parquet(self.watch)
                .writeStream.foreachBatch(self._emit)
                .option("checkpointLocation", os.path.join(self.work, "checkpoint"))
                .start()
            )
            self.land(-1)
            self.stream.processAllAvailable()
            self.landed = 0
        self.setup_s = time.perf_counter() - t0
        self.phases["setup"] = self.setup_s

    def _emit(self, batch, batch_id: int) -> None:
        """The stream's sink: the same operators as the store build."""
        from metric_store_release_spark.sources.storage import write_samples

        parent, root = self._stream_span or (None, None)
        with self.tracer.span("nozzle.build", root=root, parent=parent):
            points = to_points(batch)
        with self.tracer.span("storage.write", root=root, parent=parent):
            write_samples(points, self.store)

    def check_digests(self, path: str) -> int:
        """Compare this run's answers with those a previous run of the same
        seed stored at `path`, then store the union. Returns how many
        answers matched."""
        import json

        stored = {}
        if os.path.exists(path):
            with open(path) as f:
                stored = json.load(f)
        matched = 0
        for key, d in self.digests.items():
            if key in stored:
                if stored[key] != d:
                    self.wrong.append(f"{key}: answer differs from a previous run")
                else:
                    matched += 1
        with open(path, "w") as f:
            json.dump({**stored, **self.digests}, f, indent=0, sort_keys=True)
        return matched

    def refresh(self, position: int, traced: bool) -> float:
        now = self.timeline.tick_ms(self.history - 1) - (
            DASHBOARD_POSITIONS - 1 - position % DASHBOARD_POSITIONS
        ) * MINUTE_MS
        t0 = time.perf_counter()
        samples = self.read_store()
        for panel in PANELS:
            resp = self.call(samples, panel, now, traced)
            if resp is not None:
                self.check_panel(panel, resp, now, self.history - 1)
        return (time.perf_counter() - t0) * 1000.0

    def land(self, n: int) -> None:
        """Atomically move cycle n's staged file into the watched directory."""
        stage_dir = os.path.join(self.stage, f"cycle={n}")
        (src,) = [f for f in os.listdir(stage_dir) if f.endswith(".parquet")]
        os.rename(os.path.join(stage_dir, src),
                  os.path.join(self.watch, f"cycle{n:+06d}.parquet"))

    def cycle(self, n: int, panel: Panel, traced: bool) -> tuple[float, float, float, int]:
        """Land cycle n's file, make it queryable, read one panel. Returns
        (land→processed ms, land→probe-sees ms, cycle ms, probe attempts)."""
        newest_tick = self.history + (n + 1) * CYCLE_TICKS - 1
        newest = self.timeline.tick_ms(newest_tick)
        files_before = len(parquet_files(self.store)) if traced else 0
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("cycle", root=f"cycle{n}"):
            self.land(n)
            with self.tracer.span("stream.process"):
                self._stream_span = self.tracer.current()
                self.stream.processAllAvailable()
                self._stream_span = None
            t_proc = time.perf_counter()
            attempts = 0
            seen = False
            while not seen and attempts < PROBE_MAX_ATTEMPTS:
                attempts += 1
                resp = self.call(self.read_store(), PROBE, newest, traced)
                seen = bool(resp and resp["data"]["result"]) and (
                    float(resp["data"]["result"][0]["value"][1]) * 1000 == newest
                )
            t_seen = time.perf_counter()
            resp = self.call(self.read_store(), panel, newest, traced)
            if resp is not None:
                self.check_panel(panel, resp, newest, newest_tick)
        t_end = time.perf_counter()
        self.landed = n + 1
        if not seen:
            self._fail(f"cycle {n}: probe never saw tick {newest}")
        if traced:
            self.files_per_batch.append(len(parquet_files(self.store)) - files_before)
        return ((t_proc - t0) * 1000, (t_seen - t0) * 1000, (t_end - t0) * 1000, attempts)

    def rotation(self, i: int, traced: bool) -> float:
        """One ingest cycle per rotation panel, after the warm-up's."""
        t0 = time.perf_counter()
        for j, panel in enumerate(INGEST_ROTATION):
            n = self.first_cycle + i * len(INGEST_ROTATION) + j
            self.cycles.append(self.cycle(n, panel, traced) + (traced,))
        return (time.perf_counter() - t0) * 1000.0

    def loop(self) -> None:
        """Warm-up (discarded), then the timed iterations; "now"
        moves on every refresh. With tracing, every other iteration is
        traced, so the untraced ones measure the tracing overhead."""
        self.files_per_batch: list[int] = []
        self.cycles: list[tuple] = []
        t_warm = time.perf_counter()
        if self.workload == "dashboard":
            self.refresh(0, False)
        else:
            newest = self.timeline.tick_ms(self.history - 1)
            for panel in (PROBE,) + INGEST_ROTATION:
                resp = self.call(self.read_store(), panel, newest, False)
                if resp is not None and panel is not PROBE:
                    self.check_panel(panel, resp, newest, self.history - 1)
            for n in range(INGEST_WARM_CYCLES):
                self.cycle(n, INGEST_ROTATION[n % len(INGEST_ROTATION)], False)
            self.first_cycle = self.landed
            self.warm_points = self.count_store()
            self.warm_bytes = store_bytes(self.store)
        self.queries.clear()
        self.attempted = self.failed = 0
        t0 = time.perf_counter()
        self.phases["warm-up"] = t0 - t_warm
        ticks0 = cpu_ticks()
        for i in range(self.n_iter):
            if time.perf_counter() - t0 > LOOP_CAP * self.seconds:
                break
            traced = self.trace and i % 2 == 0
            with self._traced_layers() if traced else nullcontext():
                if self.workload == "dashboard":
                    ms = self.refresh(i + 1, traced)
                else:
                    ms = self.rotation(i, traced)
            self.iterations.append((ms, traced))
        self.loop_s = time.perf_counter() - t0
        self.phases["loop"] = self.loop_s
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        self.loop_steal_pct = 100.0 * steal / max(total, 1)

    def count_store(self) -> int:
        from metric_store_release_spark.sources.storage import read_samples

        return read_samples(self.spark, self.store).count()

    # ------------------------------------------------------------- results
    def finish(self) -> None:
        """Checks the store against the generator, then computes metrics."""
        tl = self.timeline
        points = self.count_store()
        if self.workload == "dashboard":
            want = sum(tl.points[: self.history])
        else:
            want = sum(tl.points[: self.history + self.landed * CYCLE_TICKS])
        if points != want:
            self.wrong.append(f"store holds {points} points, generator made {want}")
        m = self.metrics
        untraced = [q for q in self.queries if not q.traced]
        iters = [ms for ms, traced in self.iterations if not traced]
        m.put("setup_s", self.setup_s, "s")
        m.put("iteration_p50_ms", median(iters), "ms", len(iters))
        m.put("success_ratio", (self.attempted - self.failed) / self.attempted,
              "ratio", self.attempted)
        files = parquet_files(self.store)
        nbytes = sum(os.path.getsize(f) for f in files)
        if self.workload == "dashboard":
            m.put("store_bytes_per_point", nbytes / points, "B/point", points)
        else:
            m.put("store_bytes_per_point",
                  (nbytes - self.warm_bytes) / (points - self.warm_points),
                  "B/point", points - self.warm_points)
        py_mb, jvm_mb = peak_rss_mb(self.spark)
        m.put("peak_rss_mb", py_mb + jvm_mb, "MB")
        # printed, not gated: too few samples per run to be steady
        panels = [q for q in self.queries if q.panel != PROBE.name]
        self.extra += [
            f"query_p50_ms {median(q.ms for q in untraced):.1f} ms n={len(untraced)}",
            f"query_qps {len(panels) / self.loop_s:.4f} 1/s n={len(panels)}",
            f"peak_rss python={py_mb:.1f} MB jvm={jvm_mb:.1f} MB",
            f"cpu_steal_in_loop {self.loop_steal_pct:.1f} % of all CPU time",
            "iterations_ms " + " ".join(f"{ms:.0f}" for ms, _ in self.iterations),
        ]
        if self.cycles:
            self.extra.append("cycles_ms processed/seen/done " + " ".join(
                f"{c[0]:.0f}/{c[1]:.0f}/{c[2]:.0f}" for c in self.cycles))
        try:
            p90 = percentile([q.ms for q in untraced], 0.9)
            self.extra.append(f"query_p90_ms {p90:.1f} ms n={len(untraced)}")
        except ValueError as e:
            self.extra.append(f"query_p90_ms not reported: {e}")
        if self.workload == "ingest_with_reads":
            h = self.history
            lo = h + self.first_cycle * CYCLE_TICKS
            hi = lo + len(self.cycles) * CYCLE_TICKS
            self.ingest_points = sum(tl.points[lo:hi])
            self.ingest_envelopes = sum(1 for t in tl.columns["tick"] if lo <= t < hi)
            self.ingest_points_per_s = self.ingest_points / (
                sum(c[0] for c in self.cycles) / 1000.0
            )
            self.lag_p50 = median(c[1] for c in self.cycles)
            self.extra.append(
                f"ingest_points_per_s {self.ingest_points_per_s:.1f} points/s "
                f"n={len(self.cycles)}"
            )
            self.extra.append(f"ingest_lag_p50_ms {self.lag_p50:.1f} ms n={len(self.cycles)}")
        self.files_total = len(files)

    def layer_metrics(self, calib_start, calib_end) -> None:
        """Per-layer medians over the traced iterations; layers this
        workload does not exercise report 0."""
        m = self.metrics

        def med(xs) -> float:
            xs = list(xs)
            return median(xs) if xs else 0.0

        traced = [q for q in self.queries if q.traced]
        totals = self.tracer.totals_ms()
        counts = self.spark_counts()
        n = len(traced)
        for name, span in (
            ("promql.parse_ms", "promql.parse"),
            ("engine.build_ms", "engine.build"),
            ("admission.bound_ms", "admission.bound"),
        ):
            m.put(name, med(totals[span]), "ms", len(totals[span]))
        m.put("admission.guarded_share", self._guarded / n if n else 0.0, "ratio", n)
        for i, phase in enumerate(("analysis", "optimization", "planning")):
            m.put(f"catalyst.{phase}_ms", med(q.catalyst[i] for q in traced), "ms", n)
        m.put("exec_ms", med(q.exec_ms for q in traced), "ms", n)
        for i, (name, unit) in enumerate((
            ("spark.jobs_per_query", "count"),
            ("spark.stages_per_query", "count"),
            ("spark.tasks_per_query", "count"),
            ("spark.shuffle_bytes_per_query", "B"),
            ("spark.gc_ms_per_query", "ms"),
        )):
            m.put(name, med(c[i] for c in counts.values()), unit, len(counts))
        api_self = self.tracer.self_times_ms()["api"]
        m.put("api.format_ms", med(api_self), "ms", len(api_self))
        m.put("api.points_per_query", med(q.points for q in traced), "count", n)
        for p in PANELS:
            mine = [q for q in traced if q.panel == p.name]
            m.put(f"panel.{p.name}.build_ms", med(q.build_ms for q in mine), "ms", len(mine))
            m.put(f"panel.{p.name}.exec_ms", med(q.exec_ms for q in mine), "ms", len(mine))
            m.put(f"panel.{p.name}.jobs", med(counts[q.qid][0] for q in mine), "count", len(mine))
        ingest = self.workload == "ingest_with_reads"
        progress = [
            p for p in (self.stream.recentProgress if ingest else [])
            # batch 0 is the history, batch n + 1 lands cycle n
            if p["batchId"] > self.first_cycle and p["numInputRows"] > 0
        ]
        for name, key in _STREAM_PHASES:
            m.put(f"streaming.{name}", med(p["durationMs"].get(key, 0) for p in progress),
                  "ms", len(progress))
        nc = len(self.cycles)
        m.put("streaming.points_per_s", self.ingest_points_per_s if ingest else 0.0,
              "points/s", nc)
        m.put("streaming.lag_p50_ms", self.lag_p50 if ingest else 0.0, "ms", nc)
        for name, span in (("nozzle.build_ms", "nozzle.build"),
                           ("storage.write_ms", "storage.write"),
                           ("storage.read_ms", "storage.read")):
            m.put(name, med(totals[span]), "ms", len(totals[span]))
        m.put("nozzle.points_per_envelope",
              self.ingest_points / self.ingest_envelopes if ingest else 0.0, "ratio", nc)
        m.put("storage.files_per_batch", med(self.files_per_batch), "count",
              len(self.files_per_batch))
        m.put("storage.files_total", self.files_total, "count")
        m.put("probe.attempts_per_batch",
              sum(c[3] for c in self.cycles) / nc if nc else 0.0, "count", nc)
        m.put("calib.cpu_start_s", calib_start[0], "s", 3)
        m.put("calib.cpu_end_s", calib_end[0], "s", 3)
        m.put("calib.spark_start_s", calib_start[1], "s", 3)
        m.put("calib.spark_end_s", calib_end[1], "s", 3)
        # like with like: refreshes run the same panels, while ingest
        # cycles differ by panel but share land → probe-sees
        same_work = [(c[1], c[4]) for c in self.cycles] if ingest else self.iterations
        on = [ms for ms, t in same_work if t]
        off = [ms for ms, t in same_work if not t]
        m.put("trace.overhead_pct",
              (med(on) / med(off) - 1) * 100 if on and off else 0.0, "%", len(on))
