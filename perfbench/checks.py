"""Output checks. Each returns a list of ``(name, ok, detail)``; any
failed check makes the run incorrect."""

from __future__ import annotations

import numpy as np
import pandas as pd

import gen

TIE_EPS = 1e-9


def check_refresh(spark, truth: dict, res) -> list:
    """ETL row counts against the generator's ground truth, the train
    split's invariants, the loss curve and the registered model."""
    from pyspark.sql import functions as F

    etl = res.etl
    out = []
    n_train = etl.train.count()
    by_label = {r["Label"]: r["n"] for r in
                etl.stream_eval.groupBy("Label").agg(F.count("*").alias("n")).collect()}
    kept = n_train + sum(by_label.values())
    out.append(("etl.kept_rows", kept == truth["kept_rows"],
                f"{kept} rows kept, ground truth {truth['kept_rows']}"))
    benign = n_train + by_label.get("BENIGN", 0)
    out.append(("etl.benign_rows", benign == truth["kept_benign"],
                f"train {n_train} + held-out benign {by_label.get('BENIGN', 0)} = {benign}, "
                f"ground truth {truth['kept_benign']}"))
    attacks = {k: v for k, v in by_label.items() if k != "BENIGN"}
    want = {k: v for k, v in truth["kept_by_family"].items() if k != "BENIGN"}
    out.append(("etl.attack_families", attacks == want, f"{attacks} vs {want}"))
    share = n_train / max(benign, 1)
    out.append(("etl.train_split_share", 0.75 < share < 0.85,
                f"train is {share:.3f} of kept benign rows (randomSplit 0.8)"))

    cols = etl.feature_cols
    schema = ", ".join(f"`{c}` double" for c in cols)
    train = spark.read.option("header", True).schema(schema).csv(res.train_csv)
    row = train.agg(
        F.count("*").alias("n"),
        *[F.avg(c).alias(f"m{i}") for i, c in enumerate(cols)],
        *[F.stddev_pop(c).alias(f"s{i}") for i, c in enumerate(cols)],
    ).first()
    worst_mean = max(abs(row[f"m{i}"]) for i in range(len(cols)))
    worst_std = max(abs(row[f"s{i}"] - 1.0) for i in range(len(cols)))
    out.append(("train.csv_rows", row["n"] == n_train, f"{row['n']} rows written, {n_train} in split"))
    out.append(("train.zscored", worst_mean < 1e-6 and worst_std < 1e-6,
                f"max |mean| {worst_mean:.2e}, max |std-1| {worst_std:.2e}"))
    header = open(res.train_csv).readline().strip().split(",")
    out.append(("train.benign_only", "Label" not in header and len(header) == 64,
                f"{len(header)} feature columns, no label column"))
    losses = res.losses
    decreasing = all(b < a for a, b in zip(losses, losses[1:]))
    out.append(("fit.loss_decreases", decreasing,
                f"loss {losses[0]:.4f} -> {losses[-1]:.4f} over {len(losses)} epochs"))
    return out


def _forward(model, x_raw: np.ndarray) -> np.ndarray:
    """Reconstruction MSE of raw 64-feature rows, in plain numpy."""
    z = (x_raw - model.means) / model.stds
    d, h, c = model.fit.dim, model.fit.hidden, model.fit.code
    theta = model.fit.theta
    shapes = [(d, h), (h,), (h, c), (c,), (c, h), (h,), (h, d), (d,)]
    params, off = [], 0
    for s in shapes:
        n = int(np.prod(s))
        params.append(theta[off:off + n].reshape(s))
        off += n
    w1, b1, w2, b2, w3, b3, w4, b4 = params
    a = np.maximum(z @ w1 + b1, 0.0)
    a = np.maximum(a @ w2 + b2, 0.0)
    a = np.maximum(a @ w3 + b3, 0.0)
    return ((a @ w4 + b4 - z) ** 2).mean(axis=1)


def check_routing(model, features: np.ndarray, families: list, normal: pd.DataFrame,
                  alerts: pd.DataFrame, expected: int) -> tuple[list, int]:
    """Every landed event is in exactly one sink exactly once, and its
    route equals an independent numpy forward pass. Returns the checks and
    the number of generated events that never landed."""
    out = []
    ids = np.concatenate([normal["event_id"].astype(np.int64).to_numpy(),
                          alerts["event_id"].astype(np.int64).to_numpy()])
    unique = np.unique(ids)
    out.append(("sinks.exactly_once", len(unique) == len(ids),
                f"{len(ids)} sink rows, {len(unique)} distinct events"))
    in_range = bool(len(unique) == 0 or (unique.min() >= 0 and unique.max() < expected))
    out.append(("sinks.known_events", in_range, f"{len(unique)} of {expected} generated events landed"))
    missing = expected - len(unique)

    idx = [gen.feature_index()[f] for f in model.features]
    rows = pd.concat([normal.assign(route="normal"), alerts.assign(route="anomaly")])
    eid = rows["event_id"].astype(np.int64).to_numpy()
    mse = _forward(model, features[eid][:, idx])
    spark_mse = rows["recon_mse"].to_numpy(dtype=float)
    close = np.allclose(spark_mse, mse, rtol=1e-9, atol=1e-12)
    out.append(("scores.match_numpy", bool(close),
                f"max |diff| {np.max(np.abs(spark_mse - mse)) if len(mse) else 0:.2e}"))
    decided = np.abs(mse - model.threshold) > TIE_EPS
    want = np.where(mse > model.threshold, "anomaly", "normal")
    got = rows["route"].to_numpy()
    n_alert_np = int((want[decided] == "anomaly").sum())
    n_alert_sink = int((got[decided] == "anomaly").sum())
    out.append(("routing.match_numpy", bool((want[decided] == got[decided]).all()),
                f"{n_alert_sink} alerts routed, numpy forward pass says {n_alert_np} "
                f"({int((~decided).sum())} ties excluded)"))
    fam = np.asarray(families, dtype=object)[eid]
    labels_ok = (rows["label"].map(_family).to_numpy() == fam).all()
    out.append(("sinks.labels", bool(labels_ok), "sink labels map to the generated families"))
    return out, missing


def _family(raw: str) -> str:
    return dict(gen.LABELS)[raw]


def dashboard_expected(pdf: pd.DataFrame, threshold: float, hist_width: float, top_k: int) -> dict:
    """Every dashboard panel recomputed in pandas."""
    ts = pd.to_datetime(pdf["ts"])
    wc = (
        pdf.assign(bucket_start=ts.dt.floor("5s"))
        .groupby(["bucket_start", "label"])["recon_mse"]
        .agg(["count", "mean"])
    )
    window = {(b.to_pydatetime(), l): (int(n), float(m)) for (b, l), (n, m) in wc.iterrows()}
    hist = pdf.assign(bucket=np.floor(pdf["recon_mse"] / hist_width).astype(np.int64))
    hist = {(int(b), l): int(n) for (b, l), n in hist.groupby(["bucket", "label"]).size().items()}
    pct = {
        l: tuple(float(np.percentile(g.to_numpy(), q)) for q in (25, 50, 75))
        for l, g in pdf.groupby("label")["recon_mse"]
    }
    crit = int((pdf["recon_mse"] > 2.0 * threshold).sum())
    top = pdf.sort_values(["recon_mse", "event_id"], ascending=[False, True]).head(top_k)
    return {
        "window_counts": window,
        "histogram": hist,
        "percentiles": pct,
        "alert_rate": (crit, len(pdf)),
        "top_alerts": list(zip(top["event_id"], top["recon_mse"])),
    }


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def check_dashboard(table, threshold: float, rounds: list) -> list:
    """The last complete dashboard round equals pandas over the same
    table version."""
    from system import HIST_WIDTH, TOP_K

    if not rounds:
        return [("dashboard.rounds", False, "no complete dashboard round")]
    version, got = rounds[-1]
    pdf = table.snapshot(version).toPandas()
    want = dashboard_expected(pdf, threshold, HIST_WIDTH, TOP_K)
    out = []
    wc = {(r["bucket_start"], r["event_type"]): (r["n_events"], r["avg_value"])
          for r in got["window_counts"]}
    ok = wc.keys() == want["window_counts"].keys() and all(
        wc[k][0] == want["window_counts"][k][0] and _close(wc[k][1], want["window_counts"][k][1])
        for k in wc
    )
    out.append(("dashboard.window_counts", ok, f"{len(wc)} window rows at version {version}"))
    hist = {(r["bucket"], r["label"]): r["n"] for r in got["histogram"]}
    out.append(("dashboard.histogram", hist == want["histogram"], f"{len(hist)} buckets"))
    pct = {r["label"]: (r["p25"], r["p50"], r["p75"]) for r in got["percentiles"]}
    ok = pct.keys() == want["percentiles"].keys() and all(
        all(_close(a, b) for a, b in zip(pct[k], want["percentiles"][k])) for k in pct
    )
    out.append(("dashboard.percentiles", ok, f"{len(pct)} groups"))
    (rate,) = got["alert_rate"]
    crit, total = want["alert_rate"]
    ok = rate["n_matching"] == crit and rate["n_total"] == total
    out.append(("dashboard.alert_rate", ok, f"{rate['n_matching']}/{rate['n_total']} vs {crit}/{total}"))
    top = [(r["event_id"], r["recon_mse"]) for r in got["top_alerts"]]
    ok = [t[0] for t in top] == [t[0] for t in want["top_alerts"]] and all(
        _close(a[1], b[1]) for a, b in zip(top, want["top_alerts"]))
    out.append(("dashboard.top_alerts", ok, f"top {len(top)} alerts"))
    return out
