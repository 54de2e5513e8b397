"""Filters / predicates / sampling (SURVEY P3-P12).

Each operator is a ``DataFrame -> DataFrame`` function built from Spark
SQL expressions so Catalyst can push predicates into the parquet scan
and reorder them — the reference applies these post-load in pandas
(e.g. the commented-out row-group filter at
/root/reference/atlxi_lake.py:104 applied eagerly at :109).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def quality_mask(df: DataFrame, value_col: str, cond: Column, out_col: str | None = None) -> DataFrame:
    """P3: NULL-out values failing a quality predicate, keep the row
    (reference atl06_to_atl11.py:217 ``h_corr.where(fit_quality==0)``)."""
    out = out_col or value_col
    return df.withColumn(out, F.when(cond, F.col(value_col)))


def magnitude_filter(df: DataFrame, col: str, floor: float, ceiling: float | None = None) -> DataFrame:
    """P4: ``abs(col) > floor`` noise-floor cut (reference
    atlxi_lake.py:106-110, 0.105 m/yr sensor noise), optional ceiling."""
    pred = F.abs(F.col(col)) > F.lit(floor)
    if ceiling is not None:
        pred = pred & (F.abs(F.col(col)) < F.lit(ceiling))
    return df.filter(pred)


def null_threshold(df: DataFrame, group_cols: list[str], value_col: str, thresh: int = 2) -> DataFrame:
    """P6 (long form): keep groups with ≥ thresh non-null values
    (reference atlxi_dhdt.py:111 ``dropna(thresh=2)`` over cycles).

    Implemented as a windowed count — one shuffle on the group key that
    the downstream per-group regression reuses (same partitioning, so
    Catalyst schedules no second exchange)."""
    w = Window.partitionBy(*group_cols)
    return (
        df.withColumn("_nvalid", F.count(value_col).over(w))
        .filter(F.col("_nvalid") >= F.lit(thresh))
        .drop("_nvalid")
    )


def clip_to_sigma(df: DataFrame, col: str, k: float = 3.0, out_col: str | None = None) -> DataFrame:
    """P8: clip to mean ± k·std (reference atlxi_lake.py:115-120).

    Two-pass: tiny stats aggregate broadcast back as a literal-free
    cross join (1 row — Catalyst broadcasts it)."""
    stats = df.agg(F.avg(col).alias("_mu"), F.stddev(col).alias("_sd"))
    out = out_col or col
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            out,
            F.least(
                F.greatest(F.col(col), F.col("_mu") - F.lit(k) * F.col("_sd")),
                F.col("_mu") + F.lit(k) * F.col("_sd"),
            ),
        )
        .drop("_mu", "_sd")
    )


def clip_to_mad(df: DataFrame, col: str, k: float = 3.0, out_col: str | None = None) -> DataFrame:
    """P8 (robust variant): clip to median ± k·MAD (reference
    spatiotemporal.py:404-411 grid clip limits)."""
    med = df.agg(F.expr(f"percentile({col}, 0.5D)").alias("_med"))
    mad = (
        df.crossJoin(F.broadcast(med))
        .select(F.abs(F.col(col) - F.col("_med")).alias("_dev"), "_med")
        .agg(F.first("_med").alias("_med"), F.expr("percentile(_dev, 0.5D)").alias("_mad"))
    )
    out = out_col or col
    return (
        df.crossJoin(F.broadcast(mad))
        .withColumn(
            out,
            F.least(
                F.greatest(F.col(col), F.col("_med") - F.lit(k) * F.col("_mad")),
                F.col("_med") + F.lit(k) * F.col("_mad"),
            ),
        )
        .drop("_med", "_mad")
    )


def adaptive_median_filter(df: DataFrame, group_cols: list[str], col: str, k: float = 3.0) -> DataFrame:
    """P9: keep rows where ``abs(col) > k * median(abs(col))`` per group
    (reference atlxi_lake.py:199-203 basin activity threshold).

    Exact median per group + broadcast join-back (groups are few —
    basins; the stats side is tiny by construction)."""
    med = df.groupBy(*group_cols).agg(
        F.expr(f"percentile(abs({col}), 0.5D)").alias("_gmed")
    )
    return (
        df.join(F.broadcast(med), on=group_cols, how="inner")
        .filter(F.abs(F.col(col)) > F.lit(k) * F.col("_gmed"))
        .drop("_gmed")
    )


def deterministic_sample(df: DataFrame, n: int, order_cols: list[str]) -> DataFrame:
    """P10/P12: deterministic first-n by key order (reference uses
    seeded ``df.sample(n=…, random_state=42)`` / ``.loc[:len/4]``;
    exact-n sampling in a distributed engine is an orderBy + limit)."""
    return df.orderBy(*order_cols).limit(n)
