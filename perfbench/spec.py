"""What the benchmark runs: workloads, input scale, Spark settings and
the metric names it prints. ``perfbench/README.md`` explains the
choices; ``BENCHMARK.json`` at the repo root lists the same metrics."""

from __future__ import annotations

# Rows per generated table: a tenth of the testdata's sf0.1, except
# embeddings, which the lake finder needs at 500 rows (its grid has a
# filling strip at ids 0-99 and a draining strip at ids 300-399).
ROWS = {
    "documents": 500,
    "embeddings": 500,
    "events": 10_000,
    "users": 200,
    "customer": 1_500,
    "orders": 15_000,
    "supplier": 100,
    "part": 200,
    "lineitem": 1_000,
}
CORES = 4
DRIVER_MEMORY = "4g"

# Each workload's queries run once, in this order, in a fresh process.
WORKLOADS: dict[str, list[str]] = {
    "icesat": [
        "atl06_dhdt_end_to_end",
        "dhdt_pipeline",
        "lake_finder_pipeline",
        "dissolve_input_holes",
    ],
    "textdedup": [
        "ngram_jaccard_pairs",
        "exact_substring_spans",
        "near_dup_components",
        "dedup_keep_best",
    ],
    "stream": [
        "streaming_semantic_decontamination",
        "streaming_upsert_sink",
        "streaming_parquet_sink",
        "streaming_stateful_dedup",
    ],
}

# Queries the workload descriptions name that the runs leave out, and why.
# A full benchmark round (4 + 22 runs per workload) has a 3420 s budget, so
# one run has about 45 s, 10-12 s of which is the fresh process's set-up
# on a quiet host.
LEFT_OUT: dict[str, str] = {
    "lake_catalog_dissolve": "environment: reads the upstream reference checkout, absent",
    "reference_lake_catalog": "environment: reads the upstream reference checkout, absent",
    "dissolve_snapped_catalog": "environment: reads the upstream reference checkout, absent",
    "lake_geometry_gmt": "environment: reads the upstream reference checkout, absent",
    "lake_region_subset": "environment: reads the upstream reference checkout, absent",
    "semantic_dedup": "runs 37 s alone at 4x sf0.1",
    "atl06_ingest_pipeline": "time: 10 s; atl06_dhdt_end_to_end covers the ATL06 decode",
    "atl11_ingest_cube": "time: 6 s",
    "atl11_dhdt_end_to_end": "time: 6 s",
    "dhdt_per_point_regression": "time",
    "lake_finder_reference_params": "time: its DuckDB oracle alone runs about 65 s",
    "dbscan_distributed_summary": "time; lake_finder_pipeline covers DBSCAN",
    "crossover_track_intersections": "time: 2.5 s plus a 2.7 s oracle check",
    "volume_time_series": "time",
    "dissolve_hot_key_bucketed": "time: 9 s; dissolve_input_holes covers dissolve",
    "point_in_polygon_gridded": "time",
    "simhash_near_pairs": "time: 2.2 s with its check",
    "containment_dedup": "time: 2.7 s with its check",
    "winnowing_matches": "time",
    "benchmark_contamination": "time",
    "pagerank_near_dup": "time: its DuckDB oracle alone runs 7 s",
    "bloom_cross_corpus": "time",
    "llm_corpus_pipeline": "time: 6 s",
    "streaming_lsh_dedup": "time: 19 s alone (four micro-batches of fixed cost)",
    "streaming_upsert_bucketed": "time: 4.6 s; streaming_upsert_sink covers the upsert sink",
    "streaming_sliding_means": "time: 2 s; streaming_stateful_dedup covers the state store",
    "streaming_interval_join": "time: 5 s",
    "streaming_asof_join": "time: 5 s",
}

# Module groups wrapped in a traced run: (layer, package, modules).
TRACED_MODULES: list[tuple[str, str, tuple[str, ...]]] = [
    ("io", "deepicedrain_spark", ("io",)),
    ("sources", "deepicedrain_spark.sources",
     ("hdf5", "hdf5lite", "zarr", "netcdf", "geojson", "gmt")),
    ("plans", "deepicedrain_spark.plans", ("dhdt", "ingest", "lakes", "xover")),
    ("operators", "deepicedrain_spark.operators", (
        "aggregates", "asof", "clustering", "crossover", "dedup", "dissolve",
        "filters", "graph", "gridding", "rangejoin", "regression",
        "similarity", "sketches", "spatial", "windows")),
    ("streaming", "deepicedrain_spark.streaming", ("neardup", "sink", "windows")),
    ("fixtures", "deepicedrain_spark", ("fixtures",)),
]

# Bounded on every workload, so each is defined (and never
# 0) on all three. peak_rss_mb, failed_frac (0 whenever the program is
# correct) and the stream-only figures are printed beside them and listed
# under per_layer, which carries no bound: the JVM's resident peak moved
# by up to 28% between runs of one seed, wider than any allowed bound.
END_TO_END = {
    "wall_s": "s",
    "setup_s": "s",
}
STREAM_METRICS = {
    "streaming.batch_ms_p50": "ms",
    "streaming.batch_ms_tail": "ms",
    "streaming.rows_per_s": "1/s",
}

_EXEC = {
    "exec.sink_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.failed_tasks": "count",
    "exec.task_busy_s": "s", "exec.task_cpu_s": "s", "exec.core_util": "ratio",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes",
    "exec.output_bytes": "bytes", "exec.exchanges": "count",
    "exec.broadcasts": "count", "exec.python_bytes_sent": "bytes",
    "exec.fence_jobs": "count", "exec.fence_s": "s",
}
_STREAMING = {
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.get_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.input_rows": "count",
    "streaming.state_rows_total": "count", "streaming.state_rows_updated": "count",
    "streaming.state_memory_bytes": "bytes",
}


# Wrapped modules that some workload query calls; the others are traced
# (their spans are in the trace file) but print no metric.
PLANS_CALLED = ("dhdt", "ingest", "lakes")
OPERATORS_CALLED = ("clustering", "dedup", "dissolve", "filters", "graph", "regression",
                    "similarity", "spatial")


def _wrapped_keys() -> dict[str, str]:
    keys = {}
    for fn in ("load_table", "spread_scan", "table_rows"):
        keys[f"io.{fn}_s"] = "s"
        keys[f"io.{fn}_calls"] = "count"
    keys["sources.read_s"] = "s"
    keys["sources.read_calls"] = "count"
    for mod in PLANS_CALLED:
        keys[f"plans.{mod}_s"] = "s"
    for mod in OPERATORS_CALLED:
        keys[f"operators.{mod}_s"] = "s"
        keys[f"operators.{mod}_calls"] = "count"
    keys["fixtures.synth_s"] = "s"
    keys["fixtures.synth_calls"] = "count"
    return keys


PER_LAYER: dict[str, str] = {
    "peak_rss_mb": "MB",
    "failed_frac": "ratio",
    **STREAM_METRICS,
    "suite.build_s": "s",
    "suite.build_jobs": "count",
    "plan.plan_s": "s",
    **_EXEC,
    **_wrapped_keys(),
    **_STREAMING,
    "trace.overhead_s": "s",
}
