"""Benchmark of the anomaly pipeline as its users see it.

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads:

- ``refresh``: after an untimed refresh in the fresh JVM, a closed loop of
  timed model refreshes (dirty CSV -> ETL -> outputs -> MLP fit ->
  threshold -> registry) for ``--seconds``, at least one; then one
  dashboard client runs a fixed number of rounds over a quiet alert table.
- ``detect``: after an untimed drain of two event files warms the
  detector, a generator lands 250 events every 250 ms (open loop, 1000
  events/s) while the stream scores them (the ``steady`` phase, measured
  for ``--seconds`` after a warm-up); one dashboard client then runs a
  fixed number of rounds over its alert sink; last, the detector drains a
  pre-landed JSON event backlog (availableNow, the ``backlog`` phase).

With ``--trace 0`` the last stdout line is a JSON object with the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
and the spans are written to ``.perfbench_work/out``. Inputs are generated
from ``--seed`` and cached under ``.perfbench_work/cache``. See
``perfbench/DESIGN.md`` for what each metric means on each workload.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "end_to_end_data_engineering_and_ml_system_spark"
WORKLOADS = ("refresh", "detect")

REFRESH_ROWS = 6_000
REFRESH_FILES = 8
BACKLOG_EVENTS = 24_000
BACKLOG_FILES = 24
BACKLOG_MAX_FILES = 6  # maxFilesPerTrigger: 6k-event batches
STEADY_RATE = 1000  # events per second
STEADY_FILE_EVENTS = 250
STEADY_WARMUP_S = 4.0
STEADY_DRAIN_DEADLINE_S = 20.0
WARMUP_FILES = 2  # backlog files drained, one per batch, before measuring
SETUP_REPEATS = 2  # cold JVM launches, about 6.5 s each on 4 cores
DASHBOARD_ROUNDS = 8  # 40 panel queries: ten beyond the reported p75
BASE_MODEL_SEED = 0  # the serving model every run loads

E2E_UNITS = {
    "setup_s": "s",
    "throughput_rows_per_s": "1/s",
    "result_latency_p50_ms": "ms",
    "result_latency_p90_ms": "ms",
    "dashboard_query_p50_ms": "ms",
    "dashboard_query_p75_ms": "ms",
}


def _prepare_env(work: str, run_dir: str) -> None:
    """Keep every file the run writes inside the checkout and make the
    package importable by Spark's Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def source_digest() -> str:
    """Short hash of the program's and the benchmark's Python sources.
    State kept across runs (the serving model, the untraced-run history)
    is keyed on it, so a run never uses what another version produced."""
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0..100) of ``values``."""
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


class Run:
    """State shared by the workloads of one invocation."""

    def __init__(self, args, work: str, run_dir: str):
        import host
        from spans import Tracer
        from system import Ctx

        self.args = args
        self.cache = os.path.join(work, "cache")
        self.out = os.path.join(work, "out")
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.out, exist_ok=True)
        self.cpus = host.nproc()
        self.digest = source_digest()
        self.tracer = Tracer(bool(args.trace), f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.ctx = Ctx(work=run_dir, tracer=self.tracer, cpus=self.cpus)
        self.checks: list = []
        self.attempted = 0
        self.failed = 0
        self.e2e: dict = {}
        self.layer: dict = {}
        self.phases: list[tuple[str, float]] = [("start", time.perf_counter())]

    def mark(self, phase: str) -> None:
        """Record the end of a run phase (printed as wall seconds per phase)."""
        self.phases.append((phase, time.perf_counter()))

    @contextmanager
    def untimed(self):
        """Calls made inside record no spans, so the per-layer figures
        cover only the measured work."""
        from spans import Tracer

        saved, self.ctx.tracer = self.ctx.tracer, Tracer(False, "untimed")
        try:
            yield
        finally:
            self.ctx.tracer = saved

    # -- shared steps ----------------------------------------------------

    def base_registry(self) -> str:
        """Registry holding the Production model the workloads serve, built
        by an untimed refresh at a fixed seed once per version of the
        sources."""
        import gen
        from system import refresh

        dest = os.path.join(self.cache, f"base-model-n{REFRESH_ROWS}-{self.digest}")
        if os.path.isdir(dest):
            return dest
        csv_dir, _ = gen.refresh_csv(self.cache, BASE_MODEL_SEED, REFRESH_ROWS, REFRESH_FILES)
        tmp = dest + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        ctx = self.ctx
        with self.untimed():
            try:
                ctx.start()
                refresh(ctx, csv_dir, ctx.path("prep"), tmp, BASE_MODEL_SEED, "prep")
            finally:
                ctx.shutdown_jvm()  # the measured set-up must launch its own JVM
        os.rename(tmp, dest)
        return dest

    def setup(self, registry_root: str):
        from system import setup

        self.mark("inputs")
        model, times, spark_times = setup(self.ctx, registry_root, SETUP_REPEATS)
        self.mark("setup")
        self.e2e["setup_s"] = statistics.median(times)
        self.layer["session.get_spark_s"] = statistics.median(spark_times)
        self.setup_times = times
        return model

    def dashboard(self, table, threshold: float) -> None:
        """One closed-loop dashboard client over a quiet ``table`` for
        ``DASHBOARD_ROUNDS`` rounds; its latencies and checks."""
        import checks
        from system import DASHBOARD_QUERIES, Dashboard

        dash = Dashboard(self.ctx, table, threshold)
        dash.run(DASHBOARD_ROUNDS)
        lat = [ms for _, ms in dash.samples]
        if not lat:
            raise RuntimeError("the dashboard completed no query")
        self.e2e["dashboard_query_p50_ms"] = pct(lat, 50)
        self.e2e["dashboard_query_p75_ms"] = pct(lat, 75)
        self.layer["dashboard.queries"] = len(lat)
        for name in DASHBOARD_QUERIES:
            self.layer[f"dashboard.{name}_ms_p50"] = pct([m for n, m in dash.samples if n == name], 50)
        self.layer["sources.txlog.snapshot_ms_p50"] = pct(dash.snapshots, 50)
        self.attempted += dash.attempted
        self.failed += dash.failed
        for e in dash.errors[:3]:
            print("dashboard error:", e, file=sys.stderr)
        self.checks += checks.check_dashboard(table, threshold, dash.rounds)

    def stream_layer_metrics(self, phase: str, durations: list, stream) -> None:
        """Micro-batch phase times from the progress listener and sink
        times from the stream; steady-phase metrics carry the plain names,
        backlog-phase ones a ``backlog.`` prefix."""
        prefix = "" if phase == "steady" else f"{phase}."
        busy = [p for p in durations if p["rows"]]

        def p50(key) -> float:
            return pct([key(p) for p in busy], 50)

        m = {
            "streaming.trigger_ms_p50": p50(lambda p: p.get("triggerExecution", 0)),
            "streaming.source_ms_p50": p50(lambda p: p.get("latestOffset", 0) + p.get("getBatch", 0)),
            "streaming.planning_ms_p50": p50(lambda p: p.get("queryPlanning", 0)),
            "streaming.add_batch_ms_p50": p50(lambda p: p.get("addBatch", 0)),
            "streaming.commit_ms_p50": p50(lambda p: p.get("walCommit", 0) + p.get("commitOffsets", 0)),
            "streaming.rows_per_batch_p50": p50(lambda p: p["rows"]),
            "streaming.batches": len(stream.commit_time),
            "streaming.jobs_per_batch": self.ctx.jobs_in(stream.group) / max(len(stream.commit_time), 1),
        }
        for name, key in (("sink.normal_write_ms_p50", "normal_write"),
                          ("sink.alerts_write_ms_p50", "alerts_write"),
                          ("sources.txlog.append_ms_p50", "append")):
            m[name] = pct(stream.timings[key], 50) * 1e3
        self.layer.update({prefix + k: v for k, v in m.items()})

    # -- workloads -------------------------------------------------------

    def run_refresh(self) -> None:
        import checks
        import gen
        import host
        from system import TxTable, load_model, refresh, seed_alert_table

        args, ctx = self.args, self.ctx
        csv_dir, truth = gen.refresh_csv(self.cache, args.seed, REFRESH_ROWS, REFRESH_FILES)
        base = self.base_registry()
        model = self.setup(base)
        # a refresh service runs warm; a refresh in a fresh JVM is mostly
        # JIT and first-plan cost, which swings with host load, so an
        # untimed refresh comes first
        t0 = time.perf_counter()
        with self.untimed():
            refresh(ctx, csv_dir, ctx.path("warmup"), ctx.path("registry-warmup"), args.seed,
                    "warmup")
        self.layer["refresh.cold_s"] = time.perf_counter() - t0
        self.mark("warmup")
        results = []
        deadline = time.perf_counter() + args.seconds
        while not results or time.perf_counter() < deadline:
            i = len(results)
            self.attempted += 1
            results.append(refresh(ctx, csv_dir, ctx.path(f"refresh-{i}"),
                                   ctx.path(f"registry-{i}"), args.seed, f"refresh-{i}"))
        # the dashboard reads a quiet alert table once the refresh is done
        alerts = TxTable(ctx.spark, ctx.path("dashboard-alerts"))
        seed_alert_table(ctx, alerts, rows=4000, commits=5, seed=args.seed)
        self.dashboard(alerts, model.threshold)
        self.layer["peak_rss_mb"] = host.peak_rss_mb()
        self.mark("measure")
        walls = [r.wall_s for r in results]
        print("refresh_wall_s: " + " ".join(f"{w:.2f}" for w in walls))
        self.e2e["throughput_rows_per_s"] = statistics.median(
            truth["raw_rows"] / r.etl_s for r in results)
        self.e2e["result_latency_p50_ms"] = pct(walls, 50) * 1e3
        self.e2e["result_latency_p90_ms"] = pct(walls, 90) * 1e3
        r = results[-1]
        t = self.tracer
        self.layer["refreshes"] = len(results)
        self.layer["operators.flows_etl.preprocess_flows_s"] = pct(
            t.durations("operators.flows_etl.preprocess_flows"), 50)
        self.layer["operators.flows_etl.rows_kept_frac"] = truth["kept_rows"] / truth["raw_rows"]
        self.layer["sources.files.write_single_csv_s"] = pct(t.durations("sources.files.write_single_csv"), 50)
        self.layer["ml.training.fit_mlp_autoencoder_s"] = pct(t.durations("ml.training.fit_mlp_autoencoder"), 50)
        self.layer["ml.training.epoch_s_p50"] = pct(r.epoch_s, 50)
        self.layer["ml.training.mse_stats_s"] = pct(t.durations("ml.training.mlp_reconstruction_mse_stats"), 50)
        self.layer["ml.registry.register_s"] = pct(t.durations("ml.registry.register"), 50)
        self.layer["spark.jobs_per_refresh"] = statistics.median(x.jobs for x in results)
        for i, res in enumerate(results):
            self.checks += checks.check_refresh(ctx.spark, truth, res)
            loaded = load_model(ctx, ctx.path(f"registry-{i}"))
            same = (loaded.fit.theta == res.model.fit.theta).all() and loaded.threshold == res.model.threshold
            self.checks.append(("registry.production_model", bool(same),
                                f"version {res.version} serves the fitted parameters"))

    def drain(self, model, src: str, name: str, max_files: int = BACKLOG_MAX_FILES):
        """One catch-up drain of ``src`` (availableNow); returns the stream
        and its wall seconds."""
        from system import ScoringStream

        stream = ScoringStream(self.ctx, model, src, name, max_files)
        t0 = time.perf_counter()
        q = stream.start(available_now=True)
        q.awaitTermination(170)
        if q.isActive:
            q.stop()
            raise RuntimeError(f"drain {name} did not finish")
        if q.exception() is not None:
            raise RuntimeError(f"drain {name} failed: {q.exception()}")
        return stream, time.perf_counter() - t0

    def check_sinks(self, stream, model, src: str, expected: int):
        """Routing checks on ``stream``'s sinks; returns (normal, alerts)."""
        import numpy as np

        import checks

        features = np.load(os.path.join(src, "features.npy"))
        with open(os.path.join(src, "families.json")) as f:
            families = json.load(f)
        normal, alerts = stream.sinks()
        found, missing = checks.check_routing(model, features, families, normal, alerts, expected)
        self.checks += [(f"{stream.name}.{n}", ok, d) for n, ok, d in found]
        self.failed += missing
        self.attempted += expected + len(stream.commit_time)
        return normal, alerts

    def run_detect(self) -> None:
        """A detector warmed by a short drain serves the open loop, then
        the dashboard reads its alert sink, then it drains a backlog."""
        import gen
        import host
        from system import BatchProgress

        args, ctx = self.args, self.ctx
        backlog = gen.flow_events(self.cache, args.seed, BACKLOG_EVENTS, BACKLOG_FILES)
        n_files = int((STEADY_WARMUP_S + args.seconds) * STEADY_RATE / STEADY_FILE_EVENTS)
        live = gen.flow_events(self.cache, args.seed, n_files * STEADY_FILE_EVENTS, n_files,
                               stamp=False)
        base = self.base_registry()
        model = self.setup(base)

        progress = BatchProgress()
        ctx.spark.streams.addListener(progress)
        try:
            # a long-running detector is warm: JIT and first-batch costs are
            # paid by an untimed drain of the first backlog files
            with self.untimed():
                self.drain(model, self.first_files(backlog, WARMUP_FILES, "warmup-src"),
                           "warmup", max_files=1)
            self.mark("warmup")
            progress.durations.clear()
            steady, gen_state = self.steady(model, live, n_files)
            self.mark("steady")
            steady_progress = list(progress.durations)
            self.dashboard(steady.alerts, model.threshold)
            self.mark("dashboard")
            progress.durations.clear()
            stream, wall = self.drain(model, os.path.join(backlog, "json"), "backlog")
            self.mark("backlog")
        finally:
            ctx.spark.streams.removeListener(progress)
        self.layer["peak_rss_mb"] = host.peak_rss_mb()

        self.e2e["throughput_rows_per_s"] = BACKLOG_EVENTS / wall
        self.layer["backlog.drain_s"] = wall
        self.stream_layer_metrics("backlog", progress.durations, stream)
        self.check_sinks(stream, model, backlog, BACKLOG_EVENTS)
        self.steady_metrics(model, steady, steady_progress, gen_state, live, n_files)
        if args.trace:
            self.layer_probes(model, os.path.join(backlog, "json"))
            self.single_core_baseline(base, backlog)

    def first_files(self, events_dir: str, n: int, name: str) -> str:
        """A directory holding copies of the first ``n`` event files of a
        generated input."""
        src = os.path.join(events_dir, "json")
        dest = self.ctx.path(name)
        os.makedirs(dest)
        for f in sorted(os.listdir(src))[:n]:
            shutil.copy(os.path.join(src, f), dest)
        return dest

    def steady(self, model, live: str, n_files: int):
        """Open loop: a generator lands file k at t0 + k*period, every event
        stamped with the time its file was due, while the stream scores."""
        from datetime import datetime, timezone

        from system import ScoringStream

        ctx = self.ctx
        landing = ctx.path("landing")
        staging = ctx.path("staging")
        os.makedirs(landing)
        os.makedirs(staging)
        stream = ScoringStream(ctx, model, landing, "steady", max_files=10_000)
        period = STEADY_FILE_EVENTS / STEADY_RATE
        state = {"late": [], "done": None, "error": None}
        t0 = time.time() + 0.5

        def generate():
            try:
                for k in range(n_files):
                    due = t0 + k * period
                    wait = due - time.time()
                    if wait > 0:
                        time.sleep(wait)
                    stamp = datetime.fromtimestamp(due, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")
                    with open(os.path.join(live, "json", f"events-{k:04d}.json")) as f:
                        body = f.read().replace("{ts}", stamp)
                    name = f"events-{k:04d}.json"
                    with open(os.path.join(staging, name), "w") as f:
                        f.write(body)
                    os.rename(os.path.join(staging, name), os.path.join(landing, name))
                    state["late"].append(time.time() - due)
            except Exception as e:  # reported by the caller; the run then fails
                state["error"] = e
            finally:
                state["done"] = time.time()

        q = stream.start(available_now=False)
        g = threading.Thread(target=generate, name="generator", daemon=True)
        g.start()
        total = n_files * STEADY_FILE_EVENTS
        try:
            g.join(timeout=n_files * period + 60)
            if g.is_alive() or state["error"] is not None:
                raise RuntimeError(f"generator failed: {state['error']}")
            deadline = time.time() + STEADY_DRAIN_DEADLINE_S
            while sum(stream.batch_rows.values()) < total and time.time() < deadline:
                if stream.errors or q.exception() is not None:
                    break
                time.sleep(0.1)
        finally:
            q.stop()
        if stream.errors:
            raise RuntimeError(stream.errors[0])
        state["t0"] = t0
        return stream, state

    def steady_metrics(self, model, stream, durations, state, live: str, n_files: int) -> None:
        import pandas as pd

        t_from = state["t0"] + STEADY_WARMUP_S
        t_to = t_from + self.args.seconds
        normal, alerts = self.check_sinks(stream, model, live, n_files * STEADY_FILE_EVENTS)
        rows = pd.concat([normal, alerts], ignore_index=True)
        commit = rows["batch_id"].map(stream.commit_time).to_numpy(dtype=float)
        created = rows["ts"].astype("datetime64[us]").astype("int64").to_numpy() / 1e6
        window = (created >= t_from) & (created < t_to)
        lat = (commit - created)[window] * 1e3
        self.e2e["result_latency_p50_ms"] = pct(lat, 50)
        self.e2e["result_latency_p90_ms"] = pct(lat, 90)
        self.layer["steady.latency_samples"] = int(window.sum())
        self.layer["generator.late_max_ms"] = max(state["late"]) * 1e3
        t_end = state["done"]
        landed_by_end = sum(n for b, n in stream.batch_rows.items() if stream.commit_time[b] <= t_end)
        self.layer["streaming.backlog_end_files"] = n_files - landed_by_end / STEADY_FILE_EVENTS
        self.stream_layer_metrics("steady", durations, stream)

    # -- traced-run extras -------------------------------------------------

    def layer_probes(self, model, src: str) -> None:
        """Decode, z-score and MLP scoring each timed alone on the backlog
        events, as rows per second."""
        from pyspark.sql import functions as F

        from system import (
            MODEL_FEATURES,
            align_features,
            apply_standardizer_literal,
            decode_json_stream,
            flow_event_ddl,
            mlp_reconstruction_scores,
        )

        spark = self.ctx.spark
        wire = spark.read.text(src).select(F.lit("network_flows").alias("topic"), "value").cache()
        n = wire.count()

        def rate(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return n / (time.perf_counter() - t0)

        decoded = decode_json_stream(wire, flow_event_ddl())
        self.layer["streaming.kafka.decode_rows_per_s"] = rate(decoded)
        x = align_features(decoded.withColumn("__row", F.monotonically_increasing_id()),
                           ("__row", *MODEL_FEATURES)).cache()
        x.count()
        z = apply_standardizer_literal(x, model.stats_row(), model.features)
        self.layer["ml.pipeline.standardize_rows_per_s"] = rate(z)
        feats = z.select(F.col("__row").cast("long").alias("__row"),
                         F.array(*[f"z_{c}" for c in model.features]).alias("features")).cache()
        feats.count()
        self.layer["ml.training.mlp_scores_rows_per_s"] = rate(
            mlp_reconstruction_scores(feats, model.fit, "__row"))
        for df in (wire, x, feats):
            df.unpersist()

    def single_core_baseline(self, registry_root: str, events_dir: str) -> None:
        """Drain the first backlog files warm at local[nproc], then at
        local[1] (the single-threaded baseline)."""
        from system import load_model

        ctx = self.ctx
        subset = self.first_files(events_dir, BACKLOG_MAX_FILES, "baseline-src")
        model = load_model(ctx, registry_root)
        _, wall_n = self.drain(model, subset, "baseline-ncore")
        ctx.stop()
        ctx.start(cpus=1)
        model = load_model(ctx, registry_root)
        _, wall_1 = self.drain(model, subset, "baseline-1core")
        self.layer["streaming.speedup_vs_1core"] = wall_1 / wall_n


#: stream metrics measured in both detect phases; the backlog phase's copy
#: carries a ``backlog.`` prefix
_STREAM = (
    "streaming.trigger_ms_p50", "streaming.source_ms_p50", "streaming.planning_ms_p50",
    "streaming.add_batch_ms_p50", "streaming.commit_ms_p50",
    "streaming.rows_per_batch_p50", "streaming.batches", "streaming.jobs_per_batch",
    "sink.normal_write_ms_p50", "sink.alerts_write_ms_p50", "sources.txlog.append_ms_p50",
)
PER_LAYER = (
    "host.nproc", "host.loadavg_start", "host.loadavg_end", "host.calibration_ms",
    "session.get_spark_s",
    "refreshes", "refresh.cold_s", "operators.flows_etl.preprocess_flows_s", "operators.flows_etl.rows_kept_frac",
    "sources.files.write_single_csv_s",
    "ml.training.fit_mlp_autoencoder_s", "ml.training.epoch_s_p50", "ml.training.mse_stats_s",
    "ml.registry.register_s", "spark.jobs_per_refresh",
    *_STREAM, *(f"backlog.{m}" for m in _STREAM), "backlog.drain_s",
    "streaming.kafka.decode_rows_per_s", "ml.training.mlp_scores_rows_per_s",
    "ml.pipeline.standardize_rows_per_s", "streaming.speedup_vs_1core",
    "dashboard.queries", "dashboard.window_counts_ms_p50", "dashboard.histogram_ms_p50",
    "dashboard.percentiles_ms_p50", "dashboard.alert_rate_ms_p50",
    "dashboard.top_alerts_ms_p50", "sources.txlog.snapshot_ms_p50",
    "steady.latency_samples", "generator.late_max_ms", "streaming.backlog_end_files",
    "peak_rss_mb", "ops_failed_frac", "trace.overhead_pct", "trace.spans",
)
SELF_TIME_LAYERS = (
    "session", "operators.flows_etl", "sources.files", "ml.training", "ml.registry",
    "ml.pipeline", "functions.scalars", "streaming.kafka", "sources.txlog", "sink",
    "batch", "dashboard", "refresh",
)


def _layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if "_ms" in name:
        return "ms"
    if name.endswith("_s") or "_s_" in name or name.startswith("self_s."):
        return "s"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_frac") or "speedup" in name:
        return "ratio"
    if name.startswith("host.loadavg"):
        return "load"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: the {PACKAGE} package is not beside {HERE}; run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(work, run_dir)
    import host

    load_start = os.getloadavg()[0]
    calib = host.calibration_ms()
    run = Run(args, work, run_dir)
    try:
        getattr(run, f"run_{args.workload}")()
        traced_layers = run.tracer.self_times()
        run.mark("checks")
    finally:
        run.ctx.shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    run.mark("shutdown")
    load_end = os.getloadavg()[0]

    layer = dict.fromkeys(PER_LAYER, 0.0)
    layer.update(run.layer)
    layer.update({"host.nproc": run.cpus, "host.loadavg_start": load_start,
                  "host.loadavg_end": load_end, "host.calibration_ms": calib})
    layer["ops_failed_frac"] = run.failed / run.attempted if run.attempted else 0.0
    for name in SELF_TIME_LAYERS:
        layer[f"self_s.{name}"] = traced_layers.get(name, 0.0)
    # untraced runs of the same sources are the baseline of the traced
    # run's overhead; those with the same seed when there are any
    history = os.path.join(run.out, f"e2e-{args.workload}-{run.digest}.jsonl")
    headline = run.e2e["result_latency_p50_ms"]
    if args.trace:
        past = []
        if os.path.exists(history):
            with open(history) as f:
                past = [json.loads(line) for line in f]
        past = [p for p in past if p["seed"] == args.seed] or past
        base = [p["result_latency_p50_ms"] for p in past]
        layer["trace.overhead_pct"] = (100.0 * (headline / statistics.median(base) - 1.0)
                                       if base else 0.0)
        layer["trace.spans"] = len(run.tracer.spans)
        spans_path = os.path.join(run.out, f"spans-{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
        run.tracer.dump(spans_path)
        print(f"spans: {spans_path} ({len(run.tracer.spans)} spans; untraced baseline runs: {len(base)})")
    else:
        with open(history, "a") as f:
            f.write(json.dumps({"seed": args.seed, **run.e2e}) + "\n")

    print(f"host: nproc={run.cpus} loadavg_start={load_start:.2f} loadavg_end={load_end:.2f} "
          f"calibration_ms={calib:.1f} setup_runs_s={[round(t, 3) for t in run.setup_times]} "
          f"peak_rss_mb={layer['peak_rss_mb']:.0f}")
    print("phases_s: " + " ".join(
        f"{name}={t - prev:.2f}" for (_, prev), (name, t) in zip(run.phases, run.phases[1:])))
    ok = all(c[1] for c in run.checks)
    for name, passed, detail in run.checks:
        print(f"check {'PASS' if passed else 'FAIL'} {name}: {detail}")
    print(f"ops_failed_frac: {layer['ops_failed_frac']:.6f} "
          f"(failed {run.failed} of {run.attempted} attempted refreshes, micro-batches, "
          "dashboard queries and events)")
    if args.trace:
        metrics = {k: {"value": float(v), "unit": _layer_unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": float(run.e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": ok, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
