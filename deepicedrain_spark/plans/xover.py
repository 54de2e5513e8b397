"""Crossover-analysis pipeline (SURVEY §3.3).

Reference: /root/reference/atlxi_xover.py — subset a region/lake
(:110-114), split per-laser tracks (:119), pairwise x2sys_cross on a
dask cluster (:123-155), derive crossover errors h_X/t_D/dhdt
(:157-180), per-pair height-anomaly series (:293-294), and the
rolling ice-volume chain (:298-303).

Spark trace: the driver-side pair loop + GMT subprocess become one
declarative plan — segments → cell-bucketed self-join → intersection
math → window functions. Same-RGT pruning (:126-127) is a join
predicate; the shapely bbox prefilter is the grid-cell equi-key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepicedrain_spark.functions.strings import track_id
from deepicedrain_spark.operators.crossover import (
    crossover_errors,
    crossover_join,
    track_segments,
)
from deepicedrain_spark.operators.windows import anomaly_vs_first

MAX_GAP_M = 250.0  # x2sys -Wd250e (X2SYS/ICESAT2.tag:6)
SECONDS_PER_YEAR = 365.25 * 86400


def crossover_analysis(
    points: DataFrame,
    rgt_col: str = "referencegroundtrack",
    pairtrack_col: str = "pairtrack",
    t_col: str = "t",
    cell: float = 1000.0,
    max_gap: float = MAX_GAP_M,
) -> DataFrame:
    """Points (rgt, pairtrack, x, y, h, t[seconds]) → crossover table
    with h_X / t_D / dhdt per crossing, external crossovers only
    (different RGT — x2sys coe='e' semantics)."""
    tracks = points.withColumn(
        "track_id", track_id(F.col(rgt_col), F.col(pairtrack_col))
    )
    segs = track_segments(
        tracks, track_col="track_id", order_col=t_col, t=t_col, max_gap=max_gap
    )
    rgt_of = lambda c: F.split(c, "_").getItem(0)  # noqa: E731
    xo = crossover_join(segs, cell=cell, track_col="track_id", rgt_of=rgt_of)
    # orient each pair so track2 is the later pass (reference sorts by
    # time so h_X = later − earlier)
    oriented = xo.select(
        F.when(F.col("t_1") <= F.col("t_2"), F.col("track1")).otherwise(F.col("track2")).alias("track1"),
        F.when(F.col("t_1") <= F.col("t_2"), F.col("track2")).otherwise(F.col("track1")).alias("track2"),
        "x",
        "y",
        F.least("t_1", "t_2").alias("t_1"),
        F.greatest("t_1", "t_2").alias("t_2"),
        F.when(F.col("t_1") <= F.col("t_2"), F.col("h_1")).otherwise(F.col("h_2")).alias("h_1"),
        F.when(F.col("t_1") <= F.col("t_2"), F.col("h_2")).otherwise(F.col("h_1")).alias("h_2"),
    )
    return crossover_errors(oriented, seconds_per_year=SECONDS_PER_YEAR).withColumn(
        "track1_track2", F.concat_ws("x", "track1", "track2")
    )


def crossover_height_series(xovers: DataFrame) -> DataFrame:
    """Long per-crossing height series with per-pair anomaly (W2):
    each crossover contributes (t_1, h_1) and (t_2, h_2) rows; anomaly
    is height minus the pair's first-in-time height
    (atlxi_xover.py:237-241 wide_to_long + :293-294 transform)."""
    long = (
        xovers.select(
            "track1_track2", "x", "y", F.col("t_1").alias("t"), F.col("h_1").alias("h")
        )
        .unionByName(
            xovers.select(
                "track1_track2", "x", "y", F.col("t_2").alias("t"), F.col("h_2").alias("h")
            )
        )
        .dropDuplicates(["track1_track2", "t"])
        .orderBy("t")
    )
    return anomaly_vs_first(
        long,
        F.col("t") * 1_000_000,  # seconds → µs ordering
        "h",
        partition_by=["track1_track2"],
        tiebreak=["x"],
        out="h_anom",
    )
