"""Aggregation operators (SURVEY.md §2.4) + observe()-based instrumentation.

Distributed re-expressions of the dashboard/ETL aggregations:

- histogram (A9, streamlit_dashboard.py:169-178) as floor-bucket groupBy —
  the shuffle carries one row per (bucket, group), never the raw data;
- per-class distribution stats (A10, :205-214) via exact interpolated
  ``percentile`` (identical semantics to DuckDB ``quantile_cont``);
- ratio metrics (A12, :127-129) as derived agg expressions;
- stage row-count instrumentation via ``DataFrame.observe`` — the reference
  calls ``df.count()`` at every ETL stage (preprocess_cicids2017.py:81-86),
  re-scanning the data each time; ``observe`` rides the single pass for free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.scalars import sql_lit, sql_name


def histogram(
    df: DataFrame,
    col: str,
    width: float,
    by: Sequence[str] = (),
    bucket_col: str = "bucket",
    count_col: str = "n",
) -> DataFrame:
    """Fixed-width histogram: ``floor(col/width)`` buckets, optionally split
    by group columns (ref: A9)."""
    bucket = F.floor(F.col(col) / F.lit(width)).cast("bigint").alias(bucket_col)
    return df.groupBy(bucket, *by).agg(F.count("*").alias(count_col))


def percentiles_by_group(
    df: DataFrame,
    col: str,
    by: Sequence[str],
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact interpolated percentiles per group (ref: A10). Uses ``percentile``
    (exact), not ``percentile_approx`` — approx sketches are engine-specific
    and break cross-engine reproducibility; for 100 TB pipelines where exact
    is too expensive, switch to ``approx_percentile`` knowingly."""
    exprs = [
        F.expr(f"percentile(`{col}`, {q})").alias(f"p{int(q * 100)}")
        for q in quantiles
    ]
    return df.groupBy(*by).agg(*exprs)


def ratio_metric(
    df: DataFrame, num_cond: Column, alias: str = "rate_pct"
) -> DataFrame:
    """Single-row ratio metric: 100 * count(cond) / count(*) (ref: A12).
    NULL rate on an empty input (ANSI mode would otherwise throw
    DIVIDE_BY_ZERO on the 0-row denominator)."""
    num = F.sum(F.when(num_cond, F.lit(1)).otherwise(F.lit(0)))
    return df.agg(
        F.when(F.count("*") > 0, F.lit(100.0) * num / F.count("*")).alias(
            alias
        ),
        num.alias("n_matching"),
        F.count("*").alias("n_total"),
    )


def with_stage_observation(
    df: DataFrame, name: str, *metrics: Column
) -> tuple[DataFrame, Observation]:
    """Attach an Observation collecting row counts (and optional extra
    metrics) during the next action — zero extra jobs, unlike the
    reference's per-stage ``count()`` calls."""
    obs = Observation(name)
    cols = [F.count(F.lit(1)).alias("n_rows"), *metrics]
    return df.observe(obs, *cols), obs


def profile_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One-pass data-profiling summary: (column, n_rows, n_nulls, n_distinct)
    per requested column, long format.

    All counts ride a single aggregate job; exact per-column distincts make
    Spark plan an Expand (one stream per column), which is the honest cost
    of exactness — at 100 TB profile with approx_count_distinct instead
    (same shape, no Expand) and accept ~2% error. Min/max are deliberately
    omitted: their string rendering is engine-specific, and a profile that
    can't be reproduced elsewhere is a weaker contract."""
    aggs = ["count(*) AS __n"]
    stack_args = []
    for c in cols:
        n, nn, nd = sql_name(c), sql_name(f"__nn_{c}"), sql_name(f"__nd_{c}")
        aggs.append(f"sum(CASE WHEN {n} IS NULL THEN 1 ELSE 0 END) AS {nn}")
        aggs.append(f"count(DISTINCT {n}) AS {nd}")
        stack_args.append(f"{sql_lit(c)}, {nn}, {nd}")
    row = df.selectExpr(*aggs)  # global aggregate: one row
    stacked = ", ".join(stack_args)
    return row.selectExpr(
        f"stack({len(cols)}, {stacked}) AS (column, n_nulls, n_distinct)",
        "__n AS n_rows",
    ).select("column", "n_rows", "n_nulls", "n_distinct")


def population_stability(
    df: DataFrame,
    value_col: str,
    period_a: Column,
    bin_width: float = 25.0,
    n_bins: int = 9,
    smoothing: float = 1.0,
) -> DataFrame:
    """Per-bin Population Stability Index terms between two periods of one
    column — the standard drift monitor between a reference window and a
    live window. Rows where ``period_a`` is true form the reference
    distribution; the rest form the comparison.

    Fixed-width bins (last bin is the overflow) keep binning a pure
    projection — no quantile pass, so the whole thing is ONE grouped
    aggregation with map-side combine regardless of data size. Laplace
    smoothing (+``smoothing`` per bin) keeps ``ln(share_a/share_b)`` finite
    when a bin is empty on one side. ``sum(psi_term)`` > 0.2 is the
    conventional "significant drift" alarm."""
    top = n_bins - 1
    bin_c = F.least(
        F.floor(F.col(value_col) / F.lit(bin_width)), F.lit(top)
    ).cast("bigint")
    binned = df.select(bin_c.alias("bin"), period_a.alias("__a"))
    agg = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1)).alias("n_b"),
    )
    return psi_terms_from_counts(agg, n_bins=n_bins, smoothing=smoothing)


def psi_terms_from_counts(
    agg: DataFrame, n_bins: int, smoothing: float = 1.0
) -> DataFrame:
    """Share + PSI-term projection over an already-binned
    ``(bin, n_a, n_b)`` frame. Split out so batch and streaming monitors
    share ONE set of arithmetic expressions: per-bin counts are
    associative, so a foreachBatch accumulator can merge micro-batch
    counts and get bit-identical PSI terms to the batch query.

    Totals come from an unpartitioned window over the ALREADY-AGGREGATED
    frame (at most ``n_bins`` rows at any data size, so the
    single-partition WindowExec is free). The crossJoin-a-reaggregate
    alternative re-evaluates the whole upstream subplan — a second scan of
    the fact table, visible in the physical plan."""
    from pyspark.sql import Window

    w = Window.partitionBy()
    ta = F.sum("n_a").over(w)
    tb = F.sum("n_b").over(w)
    s = F.lit(float(smoothing))
    k = F.lit(float(n_bins) * smoothing)
    share_a = (F.col("n_a") + s) / (ta + k)
    share_b = (F.col("n_b") + s) / (tb + k)
    return agg.select(
        "bin",
        "n_a",
        "n_b",
        share_a.alias("share_a"),
        share_b.alias("share_b"),
        ((share_a - share_b) * F.log(share_a / share_b)).alias("psi_term"),
    )
