"""Aggregations (SURVEY A1-A13 minus the custom spatial ones).

All pure Catalyst built-ins: partial (map-side) aggregation is
automatic, so each groupBy shuffles O(groups) bytes, not O(rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def nanrange_wide(cols: list[str]) -> Column:
    """A1 wide form: max-min across suffixed per-cycle columns,
    null-skipping — map-only, no shuffle (reference ``nanptp`` at
    /root/reference/deepicedrain/deltamath.py:34-42). ``greatest``/
    ``least`` skip NULLs natively."""
    return F.greatest(*[F.col(c) for c in cols]) - F.least(*[F.col(c) for c in cols])


def nanrange_long(df: DataFrame, group_cols: list[str], value_col: str, out: str = "h_range") -> DataFrame:
    """A1 long form: per-point max-min over cycles."""
    return df.groupBy(*group_cols).agg(
        (F.max(value_col) - F.min(value_col)).alias(out)
    )


def cycle_delta_wide(new_col: str, old_col: str) -> Column:
    """A3: cycle-to-cycle difference in wide form (reference
    ``calculate_delta`` deltamath.py:10-31) — map-only."""
    return F.col(new_col) - F.col(old_col)


def cycle_delta_long(
    df: DataFrame,
    key_cols: list[str],
    cycle_col: str,
    value_col: str,
    old: int,
    new: int,
    out: str = "delta",
) -> DataFrame:
    """A3 long form via conditional aggregation — ONE shuffle on the
    point key (beats the naive self-join, which would shuffle twice and
    join; conditional min is exact because (key, cycle) is unique)."""
    pick = lambda c: F.min(F.when(F.col(cycle_col) == F.lit(c), F.col(value_col)))  # noqa: E731
    return (
        df.filter(F.col(cycle_col).isin([old, new]))
        .groupBy(*key_cols)
        .agg((pick(new) - pick(old)).alias(out))
    )


def median(col: str) -> Column:
    """A5: exact interpolated median (scipy/pandas parity)."""
    return F.expr(f"percentile({col}, 0.5D)")


def grouped_median_mad(df: DataFrame, group_cols: list[str], col: str) -> DataFrame:
    """A5: median + median-absolute-deviation per group — two passes
    (MAD needs deviations from the group median; reference
    atlxi_lake.py:257-265 donut-ring MAD). The join-back is a broadcast
    (group count is small by construction)."""
    med = df.groupBy(*group_cols).agg(median(col).alias("_med"))
    return (
        df.join(F.broadcast(med), on=group_cols)
        .withColumn("_dev", F.abs(F.col(col) - F.col("_med")))
        .groupBy(*group_cols)
        .agg(
            F.first("_med").alias(f"{col}_median"),
            F.expr("percentile(_dev, 0.5D)").alias(f"{col}_mad"),
        )
    )


def describe_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """A4: pandas-describe equivalent (count/mean/std/min/quartiles/max)
    as one aggregate row per column set — exact percentiles."""
    aggs: list[Column] = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}_count"),
            F.avg(c).alias(f"{c}_mean"),
            F.stddev(c).alias(f"{c}_std"),
            F.min(c).alias(f"{c}_min"),
            F.expr(f"percentile({c}, 0.25D)").alias(f"{c}_p25"),
            F.expr(f"percentile({c}, 0.5D)").alias(f"{c}_p50"),
            F.expr(f"percentile({c}, 0.75D)").alias(f"{c}_p75"),
            F.max(c).alias(f"{c}_max"),
        ]
    return df.agg(*aggs)


def raster_aggregate(
    df: DataFrame,
    x: str,
    y: str,
    z: str,
    x0: float,
    y0: float,
    cell: float,
    agg: str = "avg",
) -> DataFrame:
    """A9/A10 generalized: bin points into square grid cells and
    aggregate z per cell (datashade mean at spatiotemporal.py:109-133;
    blockmedian at :426-430 with agg='median').

    One shuffle keyed on (cx, cy). At 100 TB the cell key is
    high-cardinality and uniform → no skew; partial agg bounds shuffle
    volume by the number of cells."""
    cx = F.floor((F.col(x) - F.lit(x0)) / F.lit(cell)).alias("cx")
    cy = F.floor((F.col(y) - F.lit(y0)) / F.lit(cell)).alias("cy")
    if agg == "median":
        zagg = [
            F.expr(f"percentile({x}, 0.5D)").alias("x_med"),
            F.expr(f"percentile({y}, 0.5D)").alias("y_med"),
            F.expr(f"percentile({z}, 0.5D)").alias("z_med"),
        ]
    else:
        zagg = [getattr(F, agg)(z).alias(f"z_{agg}"), F.count(z).alias("n")]
    return df.groupBy(cx, cy).agg(*zagg)


def grouped_trend(df: DataFrame, group_cols: list[str], y: str, x: str, scale: float = 1.0) -> DataFrame:
    """A12: per-group least-squares slope × scale (reference
    vizplots.py:413-418 ``np.polyfit(deg=1)`` per crossover group)."""
    return df.groupBy(*group_cols).agg(
        (F.expr(f"regr_slope({y}, {x})") * F.lit(scale)).alias("trend")
    )
