"""The paper's pipeline as its users run it, composed from the package's
public functions: session set-up with model load, the batch refresh (ETL,
training, registry), the scoring stream routed to a normal and an alert
sink, and the live dashboard over the alert sink. Every call into a layer
of the program is wrapped in a tracer span named after that layer.
"""

from __future__ import annotations

import io
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

from end_to_end_data_engineering_and_ml_system_spark import session
from end_to_end_data_engineering_and_ml_system_spark.functions.scalars import (
    classify_by_threshold,
    confidence,
)
from end_to_end_data_engineering_and_ml_system_spark.ml import registry as mlreg
from end_to_end_data_engineering_and_ml_system_spark.ml.pipeline import (
    align_features,
    apply_standardizer_literal,
)
from end_to_end_data_engineering_and_ml_system_spark.ml.training import (
    MlpFitResult,
    fit_mlp_autoencoder,
    mlp_reconstruction_mse_stats,
    mlp_reconstruction_scores,
)
from end_to_end_data_engineering_and_ml_system_spark.operators import aggregations as agg
from end_to_end_data_engineering_and_ml_system_spark.operators.flows_etl import (
    preprocess_flows,
)
from end_to_end_data_engineering_and_ml_system_spark.sources.files import write_single_csv
from end_to_end_data_engineering_and_ml_system_spark.sources.txlog import TxTable
from end_to_end_data_engineering_and_ml_system_spark.streaming.kafka import (
    decode_json_stream,
)
from end_to_end_data_engineering_and_ml_system_spark.streaming.observability import (
    ProgressCapture,
)
from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
    windowed_counts,
)
from end_to_end_data_engineering_and_ml_system_spark.streaming.schemas import (
    MODEL_FEATURES,
    flow_event_ddl,
)

import host
from spans import Tracer

MODEL_NAME = "flow_autoencoder"
ARTIFACT = "model.npz"
EPOCHS = 5
LEARNING_RATE = 5e-3
#: alert when a flow's reconstruction error exceeds this multiple of the
#: mean training error
THRESHOLD_FACTOR = 2.0
ALERT_COLUMNS = ("event_id", "ts", "label", "recon_mse", "prediction", "confidence", "batch_id")


@dataclass
class Model:
    fit: MlpFitResult
    features: list[str]
    means: np.ndarray
    stds: np.ndarray
    threshold: float

    def stats_row(self) -> dict:
        row = {f"mean_{c}": float(m) for c, m in zip(self.features, self.means)}
        row.update({f"std_{c}": float(s) for c, s in zip(self.features, self.stds)})
        return row

    def to_bytes(self) -> bytes:
        buf = io.BytesIO()
        np.savez(
            buf,
            theta=self.fit.theta,
            shape=np.array([self.fit.dim, self.fit.hidden, self.fit.code]),
            features=np.array(self.features),
            means=self.means,
            stds=self.stds,
            threshold=np.array(self.threshold),
        )
        return buf.getvalue()

    @staticmethod
    def from_bytes(data: bytes) -> "Model":
        z = np.load(io.BytesIO(data), allow_pickle=False)
        dim, hidden, code = (int(v) for v in z["shape"])
        fit = MlpFitResult(theta=z["theta"], losses=[], dim=dim, hidden=hidden, code=code)
        return Model(fit, [str(f) for f in z["features"]], z["means"], z["stds"],
                     float(z["threshold"]))


@dataclass
class Ctx:
    """One benchmark run: its directories, tracer and live session."""

    work: str  # per-run scratch dir
    tracer: Tracer
    cpus: int
    spark: object = None

    def span(self, name: str):
        return self.tracer.span(name)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def spark_conf(self) -> dict:
        """Only what keeps the run's files inside the checkout and its job
        counts complete; everything else is the program's own session
        configuration. Shuffle scratch goes where ``get_spark`` puts it:
        tmpfs when /dev/shm has its required headroom, else Spark's default,
        ``java.io.tmpdir``, which points into the run directory here."""
        return {
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.e2e.scratchDir": self.path("scratch"),
            "spark.ui.retainedJobs": "100000",
        }

    # -- session lifetime ---------------------------------------------------

    def start(self, cpus: int | None = None) -> float:
        """Start the session; returns the seconds ``get_spark`` took."""
        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = session.get_spark(
                "perfbench", cpus=cpus or self.cpus, extra_conf=self.spark_conf()
            )
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return took

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the session and the JVM behind it, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        children = host.descendant_pids(os.getpid())
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        host.wait_gone(children, timeout=30)

    # -- job accounting -----------------------------------------------------

    def job_group(self, group: str) -> None:
        """Tag jobs started from the calling thread with ``group``."""
        self.spark.sparkContext.setJobGroup(group, group)

    def jobs_in(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------------------------------
# set-up: session + model and scaler from the registry
# ---------------------------------------------------------------------------


def load_model(ctx: Ctx, registry_root: str) -> Model:
    with ctx.span("ml.registry.load_artifact"):
        data = mlreg.ModelRegistry(registry_root).load_artifact(MODEL_NAME, "Production")
    return Model.from_bytes(data)


def setup(ctx: Ctx, registry_root: str, repeats: int) -> tuple[Model, list[float], list[float]]:
    """Set up ``repeats`` times the way a user starts the detector: launch
    a fresh JVM through ``get_spark`` and load the serving model and scaler
    from the registry. Each set-up but the last is torn down again, JVM
    included; the last is the session the run uses. Returns the model, the
    wall time of each set-up and the ``get_spark`` time of each."""
    times, spark_times = [], []
    model = None
    for i in range(repeats):
        if i:
            ctx.shutdown_jvm()
        t0 = time.perf_counter()
        spark_times.append(ctx.start())
        model = load_model(ctx, registry_root)
        times.append(time.perf_counter() - t0)
    return model, times, spark_times


# ---------------------------------------------------------------------------
# refresh: dirty CSV -> ETL -> outputs -> MLP fit -> threshold -> registry
# ---------------------------------------------------------------------------


class _EpochClock:
    """``tracker_run`` stand-in that timestamps each epoch's loss log and
    forwards it to the real tracked run."""

    def __init__(self, run):
        self.run = run
        self.stamps: list[float] = []

    def log_metrics(self, metrics: dict, step: int = 0) -> None:
        self.stamps.append(time.perf_counter())
        self.run.log_metrics(metrics, step=step)


@dataclass
class RefreshResult:
    wall_s: float
    etl_s: float
    model: Model
    losses: list[float]
    epoch_s: list[float]
    jobs: int
    train_csv: str
    etl: object  # FlowsEtlResult, for the checks
    version: int


def refresh(ctx: Ctx, csv_dir: str, out_dir: str, registry_root: str, seed: int,
            group: str) -> RefreshResult:
    from pyspark.sql import functions as F

    spark = ctx.spark
    ctx.job_group(group)
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.perf_counter()
    with ctx.span("refresh.total"):
        raw = spark.read.option("header", True).csv(csv_dir)
        with ctx.span("operators.flows_etl.preprocess_flows"):
            etl = preprocess_flows(raw, seed=seed)
        train_csv = os.path.join(out_dir, "train.csv")
        with ctx.span("sources.files.write_single_csv"):
            write_single_csv(etl.train, train_csv)
            write_single_csv(etl.stream_eval, os.path.join(out_dir, "stream_eval.csv"))
        t_etl = time.perf_counter()

        cols = etl.feature_cols
        schema = ", ".join(f"`{c}` double" for c in cols)
        feats = (
            spark.read.option("header", True).schema(schema).csv(train_csv)
            .select(F.array(*cols).alias("features"))
            .cache()
        )
        with ctx.span("ml.registry.start_run"):
            tracker = mlreg.Tracker(os.path.join(registry_root, "tracking"))
            run = tracker.start_run("flows_autoencoder")
            run.log_params({"epochs": EPOCHS, "lr": LEARNING_RATE, "seed": seed})
        clock = _EpochClock(run)
        with ctx.span("ml.training.fit_mlp_autoencoder"):
            fit = fit_mlp_autoencoder(
                feats, dim=len(cols), epochs=EPOCHS, lr=LEARNING_RATE, seed=seed,
                tracker_run=clock,
            )
        with ctx.span("ml.training.mlp_reconstruction_mse_stats"):
            mse = mlp_reconstruction_mse_stats(feats, fit)
        feats.unpersist()
        stats = etl.stats.first()
        model = Model(
            fit,
            [c.lower() for c in cols],
            np.array([stats[f"mean_{c}"] for c in cols]),
            np.array([stats[f"std_{c}"] for c in cols]),
            THRESHOLD_FACTOR * mse["mse_mean"],
        )
        with ctx.span("ml.registry.register"):
            run.log_metrics(mse)
            run.log_artifact(ARTIFACT, model.to_bytes())
            run.end()
            reg = mlreg.ModelRegistry(registry_root)
            version = reg.register(MODEL_NAME, run, ARTIFACT)
            reg.transition(MODEL_NAME, version, "Production")
    wall = time.perf_counter() - t0
    # stamp i is taken when epoch i's loss is known, so epoch i spans
    # stamps i-1..i; epoch 0 is left out, as it also fills the cache
    epoch_s = [b - a for a, b in zip(clock.stamps, clock.stamps[1:])]
    return RefreshResult(wall, t_etl - t0, model, fit.losses, epoch_s, ctx.jobs_in(group),
                         train_csv, etl, version)


# ---------------------------------------------------------------------------
# detect: file-source stream -> decode -> align -> z-score -> MLP -> route
# ---------------------------------------------------------------------------


class BatchProgress(ProgressCapture):
    """``ProgressCapture`` that also keeps each batch's phase durations."""

    def __init__(self):
        super().__init__()
        self.durations: list[dict] = []

    def onQueryProgress(self, event) -> None:
        super().onQueryProgress(event)
        p = event.progress
        self.durations.append(dict(p.durationMs or {}, rows=p.numInputRows))


class ScoringStream:
    """The detector: a JSON-lines file source standing in for the Kafka
    topic, scored per micro-batch and routed to a parquet normal sink and a
    ``TxTable`` alert sink (one append per batch, so dashboard reads never
    see a torn write)."""

    def __init__(self, ctx: Ctx, model: Model, src_dir: str, name: str, max_files: int):
        self.ctx = ctx
        self.name = name
        self.model = model
        self.src_dir = src_dir
        self.max_files = max_files
        self.normal_dir = ctx.path(name, "normal")
        self.alerts = TxTable(ctx.spark, ctx.path(name, "alerts"))
        self.checkpoint = ctx.path(name, "checkpoint")
        self.commit_time: dict[int, float] = {}  # batch id -> epoch seconds
        self.batch_rows: dict[int, int] = {}
        self.timings: dict[str, list[float]] = {"normal_write": [], "alerts_write": [], "append": []}
        self.errors: list[str] = []
        self.group = f"{name}-batches"

    @contextmanager
    def _timed(self, span: str, key: str):
        t0 = time.perf_counter()
        with self.ctx.span(span):
            yield
        self.timings[key].append(time.perf_counter() - t0)

    def _process(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        ctx, m = self.ctx, self.model
        try:
            ctx.job_group(self.group)
            with ctx.span("batch.total"):
                b = batch_df.withColumn("__row", F.monotonically_increasing_id()).persist()
                with ctx.span("ml.pipeline.align_features"):
                    x = align_features(b, ("__row", *MODEL_FEATURES))
                with ctx.span("ml.pipeline.apply_standardizer_literal"):
                    z = apply_standardizer_literal(x, m.stats_row(), m.features)
                z = z.select(
                    F.col("__row").cast("long").alias("__row"),
                    F.array(*[f"z_{c}" for c in m.features]).alias("features"),
                )
                with ctx.span("ml.training.mlp_reconstruction_scores"):
                    s = mlp_reconstruction_scores(z, m.fit, "__row")
                with ctx.span("functions.scalars.classify_by_threshold"):
                    pred = classify_by_threshold("recon_mse", m.threshold)
                    conf = confidence("recon_mse")
                scored = (
                    b.select("__row", "event_id", F.to_timestamp("timestamp").alias("ts"), "label")
                    .join(s, "__row")
                    .select(
                        "event_id", "ts", "label", "recon_mse",
                        pred.alias("prediction"), conf.alias("confidence"),
                        F.lit(batch_id).cast("long").alias("batch_id"),
                    )
                    .persist()
                )
                with ctx.span("batch.score"):
                    n = scored.count()
                with self._timed("sink.normal_write", "normal_write"):
                    scored.filter(F.col("prediction") == "normal").write.mode("append").parquet(
                        self.normal_dir
                    )
                with self._timed("sink.alerts_write", "alerts_write"):
                    alerts = scored.filter(F.col("prediction") == "anomaly")
                    with self._timed("sources.txlog.append", "append"):
                        self.alerts.append(alerts)
                scored.unpersist()
                b.unpersist()
            self.commit_time[batch_id] = time.time()
            self.batch_rows[batch_id] = n
        except Exception as e:  # the stream thread must report, not die silently
            self.errors.append(f"batch {batch_id}: {type(e).__name__}: {e}")
            raise

    def start(self, available_now: bool):
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        with self.ctx.span("streaming.kafka.decode_json_stream"):
            events = decode_json_stream(
                spark.readStream.option("maxFilesPerTrigger", self.max_files)
                .text(self.src_dir)
                .select(F.lit("network_flows").alias("topic"), "value"),
                flow_event_ddl(),
            )
        w = events.writeStream.foreachBatch(self._process).option(
            "checkpointLocation", self.checkpoint
        )
        w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime="0 seconds")
        return w.start()

    def sinks(self):
        """(normal rows, alert rows) as pandas frames; empty when a sink
        has received nothing."""
        import pandas as pd

        snap = self.alerts.snapshot()
        alerts = snap.toPandas() if snap is not None else pd.DataFrame(columns=ALERT_COLUMNS)
        normal = (
            self.ctx.spark.read.parquet(self.normal_dir).toPandas()
            if os.path.isdir(self.normal_dir)
            else pd.DataFrame(columns=ALERT_COLUMNS)
        )
        return normal, alerts


# ---------------------------------------------------------------------------
# the live dashboard: one closed-loop client over the alert sink
# ---------------------------------------------------------------------------

DASHBOARD_QUERIES = ("window_counts", "histogram", "percentiles", "alert_rate", "top_alerts")
HIST_WIDTH = 1.0
TOP_K = 10


def dashboard_frames(snap, threshold: float) -> dict:
    """The dashboard panels over one alert-table snapshot."""
    from pyspark.sql import functions as F

    return {
        "window_counts": lambda: windowed_counts(
            snap.select("ts", F.col("label").alias("event_type"), F.col("recon_mse").alias("value"))
        ),
        "histogram": lambda: agg.histogram(snap, "recon_mse", HIST_WIDTH, by=("label",)),
        "percentiles": lambda: agg.percentiles_by_group(snap, "recon_mse", by=("label",)),
        "alert_rate": lambda: agg.ratio_metric(
            snap, F.col("recon_mse") > F.lit(2.0 * threshold), alias="critical_pct"
        ),
        "top_alerts": lambda: snap.orderBy(F.desc("recon_mse"), F.asc("event_id"))
        .select("event_id", "label", "recon_mse")
        .limit(TOP_K),
    }


class Dashboard:
    """One dashboard client, closed loop: pin the newest alert-table
    version, run every panel query over that snapshot, repeat."""

    def __init__(self, ctx: Ctx, table: TxTable, threshold: float):
        self.ctx = ctx
        self.table = table
        self.threshold = threshold
        self.samples: list[tuple[str, float]] = []  # (query, ms)
        self.snapshots: list[float] = []  # ms
        self.rounds: list[tuple[int, dict]] = []  # (version, {query: rows})
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, rounds: int) -> None:
        ctx = self.ctx
        ctx.job_group("dashboard")
        for _ in range(rounds):
            version = self.table.latest_version()
            if version is None:
                raise RuntimeError("the dashboard's alert table is empty")
            t0 = time.perf_counter()
            with ctx.span("sources.txlog.snapshot"):
                snap = self.table.snapshot(version)
            self.snapshots.append((time.perf_counter() - t0) * 1000.0)
            results = {}
            for name, q in dashboard_frames(snap, self.threshold).items():
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with ctx.span(f"dashboard.{name}"):
                        results[name] = [r.asDict() for r in q().collect()]
                except Exception as e:  # keep the client going; count the failure
                    self.failed += 1
                    self.errors.append(f"{name}: {type(e).__name__}: {e}")
                    continue
                self.samples.append((name, (time.perf_counter() - t0) * 1000.0))
            if len(results) == len(DASHBOARD_QUERIES):
                self.rounds.append((version, results))


def seed_alert_table(ctx: Ctx, table: TxTable, rows: int, commits: int, seed: int) -> None:
    """An alert table with ``rows`` alerts over ``commits`` appends, for the
    refresh workload's dashboard to read."""
    import pandas as pd

    import gen

    rng = np.random.default_rng([seed, rows, 3])
    fams = np.array(sorted({f for _, f in gen.LABELS if f != "BENIGN"}))
    per = rows // commits
    base = np.datetime64("2017-07-03T09:00:00")
    for k in range(commits):
        ids = np.arange(k * per, (k + 1) * per)
        pdf = pd.DataFrame({
            "event_id": ids.astype(str),
            "ts": base + (ids * 50).astype("timedelta64[ms]"),
            "label": rng.choice(fams, size=per),
            "recon_mse": rng.lognormal(1.0, 0.6, size=per),
            "prediction": "anomaly",
            "confidence": 0.0,
            "batch_id": np.full(per, k, dtype=np.int64),
        })
        pdf["confidence"] = 1.0 / (1.0 + pdf["recon_mse"])
        table.append(ctx.spark.createDataFrame(pdf, schema=ALERT_SCHEMA))


ALERT_SCHEMA = (
    "event_id string, ts timestamp, label string, recon_mse double, "
    "prediction string, confidence double, batch_id long"
)
