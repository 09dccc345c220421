"""Invariant tests for non-oracle aggregations and observe() instrumentation."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.operators.aggregations import (
    with_stage_observation,
)
from end_to_end_data_engineering_and_ml_system_spark.plans.registry import all_queries
from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table


def test_approx_distinct_within_rsd(spark, sf_dir):
    row = all_queries()["approx_distinct_users"].build(spark, sf_dir).collect()[0]
    assert abs(row.approx_users - row.exact_users) / row.exact_users <= 0.05


def test_observe_counts_without_extra_job(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    observed, obs = with_stage_observation(
        ev.filter(F.col("value") > 0), "post_filter",
        F.sum(F.when(F.col("value") > 400, 1).otherwise(0)).alias("n_big"),
    )
    n = observed.count()  # one action; observation rides along
    assert obs.get["n_rows"] == n
    assert 0 <= obs.get["n_big"] <= n


def test_profile_columns_counts_nulls_and_distincts(spark):
    from end_to_end_data_engineering_and_ml_system_spark.operators.aggregations import (
        profile_columns,
    )

    # raw CICIDS-style headers: a space and a slash, and a quote, must be
    # quoted in the generated SQL, not pasted in
    cols = ["x", "y", "Flow Bytes/s", "it's"]
    df = spark.createDataFrame(
        [(1, "a", 1.5, "p"), (2, None, None, "p"), (3, "a", 2.5, None), (None, None, 2.5, "q")],
        cols,
    )
    got = {r["column"]: r for r in profile_columns(df, cols).collect()}
    assert set(got) == set(cols)
    assert all(got[c]["n_rows"] == 4 for c in cols)
    assert got["x"]["n_nulls"] == 1 and got["y"]["n_nulls"] == 2
    assert got["x"]["n_distinct"] == 3 and got["y"]["n_distinct"] == 1
    assert got["Flow Bytes/s"]["n_nulls"] == 1 and got["Flow Bytes/s"]["n_distinct"] == 2
    assert got["it's"]["n_nulls"] == 1 and got["it's"]["n_distinct"] == 2


def test_approx_aggregates_within_tolerance(spark, sf_dir):
    """approx_count_distinct and percentile_approx are the declared 100 TB
    swap-ins for the exact profile/percentile paths — pin their error here."""
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id").alias("approx"),
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
        F.expr("percentile_approx(value, 0.5, 1000)").alias("p50_approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) <= 0.05 * row["exact"]
    assert abs(row["p50_approx"] - row["p50_exact"]) <= 0.02 * abs(row["p50_exact"]) + 1e-9


def test_hll_rollup_close_to_exact_and_merge_consistent(spark, sf_dir):
    """Sketch estimates land within 5% of exact; the global row comes from
    merging the per-type sketches, so it must match a direct global count
    estimate too (union-of-sketches == sketch-of-union for HLL)."""
    from end_to_end_data_engineering_and_ml_system_spark.plans.registry import all_queries
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table

    rows = {
        r["event_type"]: r["est_users"]
        for r in all_queries()["distinct_users_hll_rollup"].build(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n")
        ).collect()
    }
    exact["__ALL__"] = ev.agg(F.countDistinct("user_id")).collect()[0][0]
    assert set(rows) == set(exact)
    for k, est in rows.items():
        assert abs(est - exact[k]) / exact[k] <= 0.05, (k, est, exact[k])


def test_kll_rollup_close_to_exact_quantiles(spark, sf_dir):
    """KLL estimates land within the sketch's rank-error bound of exact
    quantiles (value-space tolerance: 2% of the per-group value range)."""
    from end_to_end_data_engineering_and_ml_system_spark.plans.registry import all_queries
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table

    got = {
        r["event_type"]: r
        for r in all_queries()["value_quantiles_kll_rollup"].build(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    groups = [r["event_type"] for r in ev.select("event_type").distinct().collect()]
    for g in [*groups, "__ALL__"]:
        sub = ev if g == "__ALL__" else ev.filter(F.col("event_type") == g)
        exact = sub.agg(
            F.expr("percentile(value, array(0.25, 0.5, 0.9))").alias("p"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        ).collect()[0]
        tol = (exact["mx"] - exact["mn"]) * 0.02
        for q, ex in zip((25, 50, 90), exact["p"]):
            assert abs(got[g][f"p{q}"] - ex) <= tol, (g, q, got[g][f"p{q}"], ex)


def test_etl_end_to_end_observed_stage_counts(spark, sf_dir):
    """safe_count parity via observe(): the instrumented ETL's stage row
    counts fill during the summary's own action (zero extra count jobs) and
    must equal what standalone count() jobs report."""
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_and_ml_system_spark.plans.queries import (
        etl_end_to_end_observed,
    )
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    summary, obs = etl_end_to_end_observed(spark, sf_dir)
    rows = summary.collect()
    assert len(rows) >= 1 and {"masked", "cleaned"} == set(obs)

    ev = load_table(spark, sf_dir, "events")
    n_total = ev.count()
    n_clean = ev.filter(
        (F.col("event_type") != "error") & ~F.col("value").between(100, 110)
    ).count()

    got_masked = obs["masked"].get
    got_cleaned = obs["cleaned"].get
    assert got_masked["n_rows"] == n_total
    assert got_cleaned["n_rows"] == n_clean
    # masked-null tallies explain the clean drop exactly on this fixture
    assert got_masked["n_masked_type"] + got_masked["n_masked_value"] >= (
        n_total - n_clean
    )
    assert sum(r.n_rows for r in rows) == n_clean


def test_population_stability_identical_halves_zero(spark):
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_and_ml_system_spark.operators.aggregations import (
        population_stability,
    )

    # same value distribution in both periods -> every psi_term is exactly 0
    rows = [(float(v), p) for v in (5.0, 30.0, 55.0, 230.0) for p in (True, False)]
    df = spark.createDataFrame(rows, "value double, a boolean")
    out = population_stability(df, "value", F.col("a")).collect()
    assert {r["bin"] for r in out} == {0, 1, 2, 8}
    assert all(r["psi_term"] == 0.0 for r in out)
    assert all(abs(r["share_a"] - r["share_b"]) < 1e-15 for r in out)


def test_population_stability_detects_shift(spark):
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_and_ml_system_spark.operators.aggregations import (
        population_stability,
    )

    # period A all-low, period B all-high: large PSI, finite despite
    # one-sided-empty bins (smoothing)
    rows = [(5.0, True)] * 50 + [(80.0, False)] * 50
    df = spark.createDataFrame(rows, "value double, a boolean")
    out = population_stability(df, "value", F.col("a")).collect()
    total = sum(r["psi_term"] for r in out)
    import math

    assert total > 0.2 and all(math.isfinite(r["psi_term"]) for r in out)


def test_ratio_metric_empty_input_null_not_crash(spark):
    """An empty input must yield (NULL rate, 0, 0) — not an ANSI
    DIVIDE_BY_ZERO on the 0-row denominator."""
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_and_ml_system_spark.operators.aggregations import (
        ratio_metric,
    )

    empty = spark.createDataFrame([], "value double")
    row = ratio_metric(empty, F.col("value") > 0).collect()[0]
    assert row["rate_pct"] is None
    assert row["n_matching"] is None or row["n_matching"] == 0
    assert row["n_total"] == 0
