"""Multi-store Zarr scan probe at the reference's REAL store count.

The reference ingests 1387 per-track ATL11 Zarr stores in one
open_mfdataset call (/root/reference/atlxi_dhdt.py:73-82).
read_zarr_dir was unit-tested at 3 shards; this probe builds the full
1387-store layout (file-per-track via write_zarr_partitioned, written
on executors) and measures, separately:

  1. the sink fan-out (one applyInPandas job, 1387 store writes),
  2. the driver-side metadata loop (open 1387 .zmetadata files and
     build the (store x chunk) task table — the only O(stores) driver
     work),
  3. the distributed scan itself (single mapInPandas over the task
     table, capped at 512 partitions).

Usage: python tools/scalecheck_zarr.py [2d|2ds] [n_stores] [rows_per_store]
  ("2d" runs the round-10 ATL11 2-D end-to-end topology probe;
   "2ds" the same with sharding_indexed stores - 4x1 chunk groups,
   so ~1/4 the objects per array)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MODE_2D = "2d" in sys.argv[1:] or "2ds" in sys.argv[1:]
SHARDED = "2ds" in sys.argv[1:]
_args = [a for a in sys.argv[1:] if a not in ("2d", "2ds")]
N_STORES = int(_args[0]) if len(_args) > 0 else 1387
ROWS = int(_args[1]) if len(_args) > 1 else 2000


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from deepicedrain_spark.sources.zarr import read_zarr_dir, write_zarr_partitioned

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    parent = tempfile.mkdtemp(prefix="zarr1387_")
    try:
        n = N_STORES * ROWS
        df = (
            spark.range(n)
            .select(
                (F.col("id") % N_STORES).alias("track"),
                F.col("id").alias("ref_pt"),
                (F.col("id") % 997 * 0.5).alias("h_corr"),
            )
        )
        t0 = time.time()
        write_zarr_partitioned(df, parent, key_col="track", chunk_rows=4096).count()
        t_write = time.time() - t0

        # metadata loop alone: build the plan, don't run it
        t0 = time.time()
        scan = read_zarr_dir(spark, parent)
        t_meta = time.time() - t0
        n_parts = scan.rdd.getNumPartitions()

        t0 = time.time()
        got = scan.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("store").alias("n_stores"),
            F.sum("ref_pt").alias("s"),
        ).collect()[0]
        t_scan = time.time() - t0
        assert got["n"] == n, (got["n"], n)
        assert got["n_stores"] == N_STORES
        assert got["s"] == n * (n - 1) // 2
        print(
            f"stores={N_STORES} rows/store={ROWS} | write(fan-out) {t_write:.1f}s | "
            f"driver metadata loop {t_meta:.2f}s | scan {t_scan:.1f}s "
            f"({n / max(t_scan, 1e-9) / 1e6:.1f} M rows/s) | "
            f"scan partitions {n_parts} (cap 512)"
        )
    finally:
        shutil.rmtree(parent, ignore_errors=True)
        spark.stop()




def main_2d() -> None:
    """Round 10: the atl11_dhdt_end_to_end topology at the reference's
    REAL store count — N per-track stores holding 2-D h_corr[ref_pt,
    cycle] (f4) + 2-D delta_time (f8), written on executors (one task
    per store, no shuffle), then the certified pipeline's plan: one
    (store x stripe) mapInPandas task table -> arrays_zip explode ->
    NaN drop -> per-(track, ref_pt) regression (single exchange).
    Measures the same three components as main(): fan-out write,
    driver metadata loop, scan+regression wall."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from deepicedrain_spark.sources.zarr import read_zarr_dir, write_zarr_local

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    parent = tempfile.mkdtemp(prefix="zarr2d_")
    n_cycles = 9

    def write_store(g: int) -> int:
        import os

        import numpy as np

        i = np.arange(ROWS, dtype="i8")[:, None]
        c = np.arange(3, 3 + n_cycles, dtype="i8")[None, :]
        h = ((i % 100) * 0.5 + (c - 3) * ((i % 7) - 3) * 0.25 + (g % 8)).astype("f4")
        h[(i + c + g) % 5 == 0] = np.nan
        dt = np.broadcast_to(c.astype("f8") + (g % 8) * 0.125, h.shape).copy()
        if SHARDED:
            write_zarr_local(
                os.path.join(parent, f"track_{g:04d}"),
                {"ref_pt": np.arange(ROWS, dtype="i8"), "h_corr": h, "delta_time": dt},
                zarr_format=3,
                chunk_shape=(512, 4),
                shard_shape=(2048, 4),
            )
        else:
            write_zarr_local(
                os.path.join(parent, f"track_{g:04d}"),
                {"ref_pt": np.arange(ROWS, dtype="i8"), "h_corr": h, "delta_time": dt},
                zarr_format=2 + g % 2,
                chunk_shape=(512, 4),
            )
        return 1

    try:
        t0 = time.time()
        wrote = (
            spark.sparkContext.parallelize(range(N_STORES), min(N_STORES, 512))
            .map(write_store)
            .sum()
        )
        t_write = time.time() - t0
        assert wrote == N_STORES

        t0 = time.time()
        cube = read_zarr_dir(spark, parent, columns=["ref_pt", "h_corr", "delta_time"])
        t_meta = time.time() - t0
        n_parts = cube.rdd.getNumPartitions()

        t0 = time.time()
        long = (
            cube.select(
                F.col("store").alias("track"),
                "ref_pt",
                F.explode(F.arrays_zip("h_corr", "delta_time")).alias("z"),
            )
            .select(
                "track",
                "ref_pt",
                F.col("z.h_corr").cast("double").alias("h"),
                F.col("z.delta_time").alias("t"),
            )
            .where(~F.isnan("h"))
        )
        fit = (
            long.groupBy("track", "ref_pt")
            .agg(
                F.expr("regr_count(h, t)").cast("long").alias("n"),
                F.expr("regr_slope(h, t)").alias("slope"),
            )
            .where(F.col("n") >= 2)
        )
        got = fit.agg(
            F.count(F.lit(1)).alias("pts"),
            F.countDistinct("track").alias("n_stores"),
        ).collect()[0]
        t_fit = time.time() - t0
        n_cells = N_STORES * ROWS * n_cycles
        n_objects = sum(
            len(files) for _, _, files in os.walk(parent)
        )
        print(
            f"2-D stores={N_STORES} ref_pts/store={ROWS} cycles={n_cycles} | "
            f"write(executor fan-out) {t_write:.1f}s | "
            f"driver metadata loop {t_meta:.2f}s | "
            f"scan+explode+regression {t_fit:.1f}s "
            f"({n_cells / max(t_fit, 1e-9) / 1e6:.1f} M cells/s) | "
            f"regressed points {got['pts']} over {got['n_stores']} stores | "
            f"scan partitions {n_parts} (cap 512) | "
            f"{'sharded' if SHARDED else 'plain'} objects on disk {n_objects}"
        )
    finally:
        shutil.rmtree(parent, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main_2d() if MODE_2D else main()
