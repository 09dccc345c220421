"""Seeded input generator for the benchmark.

Two input families, both derived only from ``(seed, size)``:

- ``refresh_csv``: CICIDS2017-shaped dirty CSV for the batch ETL + training
  refresh. Padded and slashed headers, every cell written as text, about
  0.5% ``Infinity`` cells, a few empty cells, about 2% exact duplicate rows
  and raw label spellings. The ground truth of what the ETL must keep is
  returned beside the files.
- ``flow_events``: JSON flow events in the Kafka-value shape that
  ``streaming.kafka.decode_json_stream(flow_event_ddl())`` decodes, with
  attack-family labels. Features are raw (unscaled), drawn from the same
  benign/attack distributions as the CSV.

Outputs are cached on disk under ``cache_dir`` keyed by (kind, seed, size),
so generation never lands inside a timed window.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

from end_to_end_data_engineering_and_ml_system_spark.streaming.schemas import FLOW_FEATURES

#: raw CICIDS columns the ETL drops (``operators.flows_etl.DROP_COLUMNS``
#: minus the two *_std columns, which are also flow features above)
EXTRA_DROPPED: tuple[str, ...] = (
    " Destination Port", " Total Backward Packets",
    " Total Length of Bwd Packets", " Subflow Bwd Bytes",
    " Avg Fwd Segment Size", " Avg Bwd Segment Size", " ECE Flag Count",
    " RST Flag Count", "Fwd URG Flags", "Fwd PSH Flags", " Down/Up Ratio",
    " URG Flag Count",
)

#: raw label spelling -> canonical family (``flows_etl.map_label_reference``)
LABELS: tuple[tuple[str, str], ...] = (
    ("BENIGN", "BENIGN"),
    (" benign", "BENIGN"),
    ("DoS Hulk", "DoS"),
    ("DoS GoldenEye", "DoS"),
    ("DoS slowloris", "DoS"),
    ("DoS Slowhttptest", "DoS"),
    ("DDoS", "DDoS"),
    ("PortScan", "PortScan"),
    ("Bot", "Bot"),
    ("FTP-Patator", "BruteForce"),
    ("SSH-Patator", "BruteForce"),
    ("Web Attack - XSS", "WebAttack"),
    ("Web Attack - Sql Injection", "WebAttack"),
)
_BENIGN_SHARE = 0.8
_BENIGN_SPELLINGS = (0, 1)
_ATTACK_SPELLINGS = tuple(range(2, len(LABELS)))

_LATENT = 8
_INF_COLS = ("flow_bytes_s", "flow_packets_s")
_MODEL_SEED = 20240601  # the feature geometry is fixed; only draws vary


def raw_header(feature: str) -> str:
    """CICIDS spelling of a snake_case feature: title words, a leading pad
    on most columns, ``/s`` and ``/Bulk`` slashes, ``.1`` for the duplicate
    header. ``cleaning.sanitize_name(raw).lower()`` maps it back."""
    words = feature.split("_")
    suffix = ""
    if words[-1] == "1":
        words, suffix = words[:-1], ".1"
    out = " ".join(w.capitalize() for w in words)
    out = out.replace(" S", "/s") if feature.endswith("_s") else out
    out = out.replace(" Bulk", "/Bulk")
    out += suffix
    return out if feature.startswith(("flow_bytes", "fwd_avg", "bwd_avg")) else " " + out


def _geometry() -> tuple[np.ndarray, np.ndarray, np.ndarray, dict]:
    """Fixed low-rank feature geometry shared by every seed: benign flows
    live near an 8-dim subspace; each attack family is pushed off it."""
    rng = np.random.default_rng(_MODEL_SEED)
    d = len(FLOW_FEATURES)
    basis = rng.standard_normal((_LATENT, d)) / np.sqrt(_LATENT)
    scale = 10.0 ** rng.uniform(0.0, 4.0, size=d)
    offset = 3.0 * scale
    families = sorted({fam for _, fam in LABELS if fam != "BENIGN"})
    shifts = {fam: 2.5 * rng.standard_normal(d) for fam in families}
    return basis, scale, offset, shifts


def _draw_flows(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` flows: feature matrix (n, 66) and raw-label index per row."""
    basis, scale, offset, shifts = _geometry()
    benign = rng.random(n) < _BENIGN_SHARE
    label_idx = np.where(
        benign,
        rng.choice(_BENIGN_SPELLINGS, size=n),
        rng.choice(_ATTACK_SPELLINGS, size=n),
    )
    z = rng.standard_normal((n, _LATENT))
    x = z @ basis + 0.05 * rng.standard_normal((n, len(FLOW_FEATURES)))
    for i in np.flatnonzero(~benign):
        x[i] += shifts[LABELS[label_idx[i]][1]]
    return np.round(x * scale + offset, 4), label_idx


def _cached(cache_dir: str, key: str, build) -> str:
    """Return ``cache_dir/key``, building it via a temp dir + rename when
    absent, so a crashed build never leaves a half-written cache entry."""
    dest = os.path.join(cache_dir, key)
    if os.path.isdir(dest):
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, dest)
    return dest


def refresh_csv(cache_dir: str, seed: int, rows: int, files: int = 8) -> tuple[str, dict]:
    """Dirty CSV for one refresh: ``files`` CSV files of about ``rows``
    total raw rows in ``<dir>/csv``, plus ``<dir>/truth.json`` with the row
    counts the ETL must produce."""

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, rows, 1])
        n_unique = int(round(rows / 1.02))
        x, label_idx = _draw_flows(rng, n_unique)
        d = len(FLOW_FEATURES)
        extra = np.round(rng.uniform(0, 1000, size=(n_unique, len(EXTRA_DROPPED))), 2)
        cells = np.empty((n_unique, d), dtype=object)
        cells[:] = x.astype(str)
        # ~0.5% Infinity cells in the rate columns, ~0.1% empty cells
        bad = np.zeros(n_unique, dtype=bool)
        inf_rows = np.flatnonzero(rng.random(n_unique) < 0.005)
        inf_cols = [FLOW_FEATURES.index(c) for c in _INF_COLS]
        for i in inf_rows:
            cells[i, inf_cols[rng.integers(len(inf_cols))]] = "Infinity"
        null_rows = np.flatnonzero(rng.random(n_unique) < 0.001)
        for i in null_rows:
            cells[i, rng.integers(d)] = ""
        bad[inf_rows] = True
        bad[null_rows] = True
        # ~2% exact duplicates of earlier rows, appended then shuffled
        dup = rng.choice(n_unique, size=rows - n_unique, replace=False)
        order = rng.permutation(np.concatenate([np.arange(n_unique), dup]))
        header = [raw_header(f) for f in FLOW_FEATURES]
        cols = [EXTRA_DROPPED[0], *header[:6], *EXTRA_DROPPED[1:4], *header[6:30],
                *EXTRA_DROPPED[4:], *header[30:], " Label"]
        extra_str = extra.astype(str)
        labels = np.array([s for s, _ in LABELS], dtype=object)[label_idx]
        table = np.concatenate(
            [extra_str[:, :1], cells[:, :6], extra_str[:, 1:4], cells[:, 6:30],
             extra_str[:, 4:], cells[:, 30:], labels[:, None]],
            axis=1,
        )
        os.makedirs(os.path.join(tmp, "csv"))
        for k, part in enumerate(np.array_split(order, files)):
            with open(os.path.join(tmp, "csv", f"flows-{k}.csv"), "w") as f:
                f.write(",".join(cols) + "\n")
                f.write("\n".join(",".join(r) for r in table[part]))
                f.write("\n")
        fams = np.array([fam for _, fam in LABELS], dtype=object)[label_idx]
        kept = ~bad
        truth = {
            "raw_rows": int(rows),
            "unique_rows": int(n_unique),
            "kept_rows": int(kept.sum()),
            "kept_benign": int((kept & (fams == "BENIGN")).sum()),
            "kept_by_family": {
                str(f): int((kept & (fams == f)).sum())
                for f in sorted(set(fams[kept]))
            },
        }
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)

    d = _cached(cache_dir, f"refresh-s{seed}-n{rows}", build)
    with open(os.path.join(d, "truth.json")) as f:
        return os.path.join(d, "csv"), json.load(f)


def event_lines(rng: np.random.Generator, first_id: int, n: int) -> tuple[list[str], np.ndarray, np.ndarray]:
    """``n`` JSON flow events (one line each) with ids ``first_id..``; the
    ``timestamp`` field is a ``{ts}`` placeholder the caller stamps at
    creation time. Returns (lines, 66-feature matrix, family per event)."""
    x, label_idx = _draw_flows(rng, n)
    template = (
        '{"flow_id": "f%d", "event_id": "%d", "event_type": "network_flow", '
        '"timestamp": "{ts}", '
        + ", ".join(f'"{f}": %r' for f in FLOW_FEATURES)
        + ', "label": "%s"}'
    )
    lines = [
        template % (first_id + i, first_id + i, *x[i].tolist(), LABELS[label_idx[i]][0])
        for i in range(n)
    ]
    fams = np.array([fam for _, fam in LABELS], dtype=object)[label_idx]
    return lines, x, fams


def flow_events(cache_dir: str, seed: int, events: int, files: int, stamp: bool = True) -> str:
    """``files`` JSON-lines files in ``<dir>/json`` holding ``events``
    events in total, event ids ``0..events-1``. With ``stamp`` every
    ``timestamp`` is a fixed epoch (a pre-landed backlog); without it the
    ``{ts}`` placeholder stays for a live generator to stamp.
    ``<dir>/features.npy`` and ``<dir>/families.json`` keep the raw
    features and family of every event for the checks."""

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, events, 2])
        lines, x, fams = event_lines(rng, 0, events)
        os.makedirs(os.path.join(tmp, "json"))
        per = -(-events // files)
        for k in range(files):
            chunk = lines[k * per : (k + 1) * per]
            with open(os.path.join(tmp, "json", f"events-{k:04d}.json"), "w") as f:
                if stamp:
                    chunk = [c.replace("{ts}", "2017-07-03T09:00:00") for c in chunk]
                f.write("\n".join(chunk))
                f.write("\n")
        np.save(os.path.join(tmp, "features.npy"), x)
        with open(os.path.join(tmp, "families.json"), "w") as f:
            json.dump(list(fams), f)

    kind = "events" if stamp else "live"
    return _cached(cache_dir, f"{kind}-s{seed}-n{events}-f{files}", build)


def feature_index() -> dict[str, int]:
    return {f: i for i, f in enumerate(FLOW_FEATURES)}
