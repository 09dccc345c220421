"""The reference's batch-ETL pipeline on flow-shaped data, end to end
(/root/reference/scripts/preprocess_cicids2017.py:98-342), Spark-first.

Differences from the reference, by design (SURVEY §4):
- label mapping is a when/contains chain, not a row-at-a-time UDF (:170,188);
- Infinity→null is one projection, not ~79 filter+count jobs (:152-162);
- the scaler fits and applies distributed — no ``toPandas`` collect
  (:262-304);
- stage row counts ride a single ``observe`` pass, not count() actions
  (:81-86).

Semantics preserved: sanitize→dedup→Infinity-null→drop-null→label-map→
column-drop→benign/attack split→seeded randomSplit→union→cast→z-score with
population stddev and the zero-std→1.0 guard (:240,246,257-260,279-280).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import sql_name
from ..ml.pipeline import apply_standardizer_literal, fit_standardizer
from .cleaning import (
    drop_columns_fuzzy,
    exact_dedup,
    find_column,
    replace_values_with_null,
    sanitize_columns,
)

#: DoS-family keyword triggers (preprocess_cicids2017.py:45): any of these
#: marks the DoS family, then an explicit "ddos" substring promotes to DDoS.
_DOS_TOKENS = (
    "ddos",
    "distributed",
    "dos",
    "hulk",
    "goldeneye",
    "slowloris",
    "slowhttptest",
)


def _contains_any(c: Column, tokens: tuple[str, ...]) -> Column:
    cond = c.contains(tokens[0])
    for t in tokens[1:]:
        cond = cond | c.contains(t)
    return cond


def map_label_reference(col: str) -> Column:
    """Exact column-expression port of the reference's ``map_label_simple``
    UDF (preprocess_cicids2017.py:38-63): NULL→'Other', exact 'benign' match
    (not substring), DoS family incl. 'distributed' with 'ddos' promotion,
    'patator'/'brute' for BruteForce (no ssh/ftp triggers), 'sql' and
    'injection' matched separately, and unmatched labels kept verbatim."""
    raw = F.col(col)
    low = F.lower(F.trim(raw))
    return (
        F.when(raw.isNull(), F.lit("Other"))
        .when(low == "benign", F.lit("BENIGN"))
        .when(_contains_any(low, _DOS_TOKENS) & low.contains("ddos"), F.lit("DDoS"))
        .when(_contains_any(low, _DOS_TOKENS), F.lit("DoS"))
        .when(low.contains("portscan") | low.contains("port scan"), F.lit("PortScan"))
        .when(low.contains("bot"), F.lit("Bot"))
        .when(
            _contains_any(low, ("patator", "brute", "bruteforce", "brute-force")),
            F.lit("BruteForce"),
        )
        .when(
            _contains_any(low, ("web attack", "xss", "sql", "injection")),
            F.lit("WebAttack"),
        )
        .otherwise(raw)  # keep-original fallback, exactly like the reference
    )

#: the 14 redundant columns the reference drops, resolved fuzzily
#: (preprocess_cicids2017.py:195-229; list in FIXTURES.md §2)
DROP_COLUMNS: tuple[str, ...] = (
    "Destination Port",
    "Total Backward Packets",
    "Total Length of Bwd Packets",
    "Subflow Bwd Bytes",
    "Avg Fwd Segment Size",
    "Avg Bwd Segment Size",
    "ECE Flag Count",
    "RST Flag Count",
    "Fwd URG Flags",
    "Idle Std",
    "Fwd PSH Flags",
    "Active Std",
    "Down/Up Ratio",
    "URG Flag Count",
)

INFINITY_VALUES = ("Infinity", "-Infinity", "inf", "-inf")


@dataclass
class FlowsEtlResult:
    train: DataFrame  # z-scored BENIGN training split
    stream_eval: DataFrame  # held-out benign + all attacks, z-scored
    stats: DataFrame  # 1-row scaler stats (mean_/std_ per feature)
    feature_cols: list[str]


def _materialize(df: DataFrame) -> DataFrame:
    """Parquet round-trip: materializes the frame and truncates the logical
    plan (see the call-site comment). The destination resolves through
    ``scratch.scratch_unique`` — set the ``spark.e2e.scratchDir`` session
    conf to a shared filesystem on a real cluster (executors must read the
    files the write produced); the tempfile fallback is local-mode-only."""
    from ..scratch import scratch_unique

    dest = scratch_unique(df.sparkSession, "e2e_flows_clean")
    df.write.mode("overwrite").parquet(dest)
    return df.sparkSession.read.parquet(dest)


def preprocess_flows(raw: DataFrame, seed: int = 42, split_fn=None) -> FlowsEtlResult:
    """Full reference ETL over a raw flow table (dirty headers, string-typed
    numerics, Infinity sentinels, raw label spellings).

    ``split_fn``: optional ``benign_df -> (train_df, test_df)`` override for
    the benign train/test split. Default is the reference's seeded
    ``randomSplit`` (engine-specific membership); pass a hash-based split
    (e.g. ``relational.hash_uniform`` on a stable key) for cross-engine-
    reproducible membership — every other stage is deterministic, so that
    one swap makes the whole pipeline oracle-checkable."""
    df = sanitize_columns(raw)  # P1/P16
    df = exact_dedup(df)  # P10

    label_col = find_column(df, "label")  # P2
    if label_col is None:
        raise ValueError("no label-like column found")
    if label_col != "Label":
        df = df.withColumnRenamed(label_col, "Label")

    feature_candidates = [c for c in df.columns if c != "Label"]
    df = replace_values_with_null(df, feature_candidates, list(INFINITY_VALUES))  # P7
    df = df.na.drop()  # P9
    df = df.withColumn("Label", map_label_reference("Label"))  # F5
    df = drop_columns_fuzzy(df, DROP_COLUMNS)  # P3

    feature_cols = [c for c in df.columns if c != "Label"]
    df = df.selectExpr(
        *[f"CAST({sql_name(c)} AS DOUBLE) AS {sql_name(c)}" for c in feature_cols],
        "Label",
    )  # P6
    df = df.na.drop()  # non-numeric strings became null at cast

    # Materialize the cleaned frame to parquet and cut lineage here — the
    # ETL's natural fan-out point (4 consumers: train/eval × fit/apply).
    # Without the cut, Catalyst's constraint propagation over the ~8-layer ×
    # 65-column projection stack goes superlinear once filters/randomSplit
    # stack on top (measured: >4 min on the reference-width input vs ~15 s
    # with the cut; disabling spark.sql.constraintPropagation.enabled
    # confirms the cause but can't be assumed in a caller's session, and
    # localCheckpoint exhibits the same pathology through its toRdd path).
    # At 100 TB you'd persist the cleaned table anyway — it is re-read four
    # times either way.
    df = _materialize(df)

    benign = df.filter(F.col("Label") == "BENIGN")  # P11
    attacks = df.filter(F.col("Label") != "BENIGN")
    if split_fn is None:
        train_b, test_b = benign.randomSplit([0.8, 0.2], seed=seed)  # R1
    else:
        train_b, test_b = split_fn(benign)
    stream_eval = test_b.unionByName(attacks)  # U1

    stats = fit_standardizer(train_b, feature_cols)  # M9 (fit on train only)
    # collect the 1-row stats to literals: with ~64 features the crossJoin
    # variant duplicates the training-branch plan into every consumer and
    # Catalyst analysis blows up (minutes on the reference-width input)
    stats_row = stats.first()
    unprefix = [f"{sql_name(f'z_{c}')} AS {sql_name(c)}" for c in feature_cols]
    train_z = apply_standardizer_literal(train_b, stats_row, feature_cols).selectExpr(
        *unprefix
    )
    eval_z = apply_standardizer_literal(stream_eval, stats_row, feature_cols).selectExpr(
        *unprefix, "Label"
    )
    return FlowsEtlResult(
        train=train_z, stream_eval=eval_z, stats=stats, feature_cols=feature_cols
    )
