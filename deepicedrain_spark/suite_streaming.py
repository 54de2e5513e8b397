"""Driver-contract queries for the Structured Streaming operators.

Each query builds a real streaming plan (readStream → watermark →
stateful op), runs it to completion with Trigger.AvailableNow into a
memory sink, and returns the materialized result — so the driver's
batch-style contract can exercise genuinely streaming execution paths.
Oracles are the batch-SQL equivalents of the streaming semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepicedrain_spark.streaming.windows import (
    STATE_CONF,
    pinned_conf,
    read_events_stream,
    run_to_batch,
    running_anomaly,
    session_counts,
    sliding_means,
    stateful_dedup,
    tumbling_counts,
)
from deepicedrain_spark.suite import register

_HOUR_US = 3_600_000_000


@register(
    "streaming_tumbling_counts",
    f"""
    SELECT (epoch_us(ts) // {_HOUR_US}) * {_HOUR_US} AS window_start_us,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    return run_to_batch(tumbling_counts(events, window_minutes=60), "complete")


@register(
    "streaming_sliding_means",
    f"""
    WITH ev AS (
      SELECT event_type, value, epoch_us(ts) AS t,
             (epoch_us(ts) // {_HOUR_US}) * {_HOUR_US} AS s0
      FROM events),
    assigned AS (
      SELECT event_type, value, unnest([s0 - {_HOUR_US}, s0]) AS window_start_us
      FROM ev)
    SELECT window_start_us, event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS mean_value
    FROM assigned GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    return run_to_batch(
        sliding_means(events, window_minutes=120, slide_minutes=60), "complete"
    )


@register(
    "streaming_stateful_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    deduped = stateful_dedup(events, ["user_id", "event_type"])
    return run_to_batch(deduped, "append").select("user_id", "event_type")


# applyInPandasWithState custom stateful operator: per-user anomaly vs
# first-seen value (streaming W2). Bounded replay = one micro-batch, so
# "first" is the (ts, event_id)-min row per user, which the batch
# window oracle reproduces; the subtraction is a single IEEE op on the
# same doubles, so values match unrounded.
@register(
    "streaming_running_anomaly",
    """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           value - first_value(value) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS anom
    FROM events WHERE user_id < 100
    """,
)
def q_stream_running_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # user subset bounds the per-group state-op overhead in the demo
    # (each group pays a Python state round-trip); the operator itself
    # is cardinality-general
    events = read_events_stream(spark, sf_dir).filter(F.col("user_id") < 100)
    return run_to_batch(running_anomaly(events), "append")


@register(
    "streaming_session_counts",
    """
    WITH ordered AS (
      SELECT user_id, epoch_us(ts) AS t,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts) > 300000000
                  OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, t,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM ordered)
    SELECT min(t) AS session_start_us,
           max(t) + 300000000 AS session_end_us,
           user_id,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    return run_to_batch(session_counts(events, gap_minutes=5), "complete")


# --- stream-stream interval join (view → purchase attribution) -------
# Bounded replay of an append-mode watermarked interval join emits
# exactly the batch join's rows: every (view, purchase) of one user
# with the purchase inside [view_t, view_t + 30 min].
@register(
    "streaming_interval_join",
    """
    SELECT v.user_id,
           v.event_id AS left_id,
           p.event_id AS right_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS delta_us
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase'
     AND v.event_type = 'view'
     AND epoch_us(p.ts) >= epoch_us(v.ts)
     AND epoch_us(p.ts) <= epoch_us(v.ts) + 1800000000
    """,
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.streaming.windows import interval_join

    events = read_events_stream(spark, sf_dir)
    joined = interval_join(events, "view", "purchase", within_minutes=30)
    return run_to_batch(joined, "append")


# --- streaming raster: the A9 datashade aggregate on a stream ---------
# The reference rasterizes point clouds into (cell_x, cell_y) mean
# grids (spatiotemporal.py:109-133, batch). The streaming form bins
# each event into a 2-D cell and a tumbling hour, maintaining per-cell
# counts/means under a watermark — the live-dashboard version of the
# same aggregate. Decimal sums keep the means oracle-exact.
@register(
    "streaming_raster_counts",
    f"""
    SELECT (epoch_us(ts) // {_HOUR_US}) * {_HOUR_US} AS window_start_us,
           CAST(floor(value / 10.0) AS BIGINT) AS cell_v,
           CAST(user_id % 8 AS BIGINT) AS cell_u,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def q_streaming_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    binned = (
        events.withWatermark("event_time", "60 minutes")
        .groupBy(
            F.window("event_time", "60 minutes").alias("w"),
            F.floor(F.col("value") / 10.0).cast("long").alias("cell_v"),
            (F.col("user_id") % 8).cast("long").alias("cell_u"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "cell_v",
            "cell_u",
            "n",
            "mean_value",
        )
    )
    return run_to_batch(binned, "complete")


# --- streaming as-of join (per-key latest-right state) ----------------
# Same semantics and ORACLE as the batch `asof_last_purchase` (DuckDB
# native ASOF JOIN): clicks pick up the user's most recent purchase
# within 2 days — here maintained as streaming state instead of a
# window over data at rest.
_ASOF_TOL_US = 2 * 86_400_000_000


def _tws_available() -> bool:
    """transformWithStateInPandas talks to the JVM state server over
    protobuf; this container ships a broken google.protobuf, so probe
    it cheaply instead of paying a doomed stream start."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:  # noqa: BLE001
        return False


@register(
    "streaming_asof_join",
    f"""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, epoch_us(ts) AS t_us
      FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, epoch_us(ts) AS p_us, max(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT c.user_id, c.click_id, c.t_us,
           CASE WHEN c.t_us - p.p_us <= {_ASOF_TOL_US}
                THEN p.purchase_value END AS purchase_value,
           CASE WHEN c.t_us - p.p_us <= {_ASOF_TOL_US}
                THEN p.p_us END AS purchase_t_us
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.t_us >= p.p_us
    """,
)
def q_streaming_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.streaming.windows import asof_attach, asof_attach_tws

    events = read_events_stream(spark, sf_dir)
    if _tws_available():
        # forward path: typed ValueState in the JVM state store
        # (transformWithStateInPandas, needs the RocksDB provider)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            return run_to_batch(
                asof_attach_tws(events, "click", "purchase", tolerance_us=_ASOF_TOL_US),
                "append",
            )
        except Exception:  # noqa: BLE001 — e.g. RocksDB provider unavailable
            pass
    return run_to_batch(
        asof_attach(events, "click", "purchase", tolerance_us=_ASOF_TOL_US),
        "append",
    )


# Streaming HyperLogLog: the register table is a plain streaming
# groupBy-max (complete mode, O(2**b) state, no watermark needed —
# max-merge is order/replay/retraction-free), so the stream's final
# registers are IDENTICAL to the batch ones and the batch oracle
# (operators/sketches.hll_oracle_sql) applies exactly.
from deepicedrain_spark.operators.sketches import hll_oracle_sql  # noqa: E402


@register("streaming_hll_users", hll_oracle_sql("events", "user_id", b=10))
def q_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_registers,
    )

    events = read_events_stream(spark, sf_dir)
    reg = run_to_batch(hll_registers(events, "user_id", b=10), "complete")
    return hll_estimate_from_registers(reg, b=10)


# Streaming Bloom-filter build: the packed word table is a complete-
# mode groupBy-bit_or — like max, bit_or is order/replay-insensitive,
# so the streamed filter words equal the batch build exactly and the
# batch packed-bits SQL is the oracle verbatim.
@register(
    "streaming_bloom_bits",
    """
    SELECT pos // 32 AS word,
           bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
    FROM (
      SELECT CAST(concat('0x', substr(md5(
               concat(CAST(user_id AS VARCHAR), '|', CAST(j AS VARCHAR))), 1, 15))
             AS BIGINT) % 65536 AS pos
      FROM events CROSS JOIN generate_series(0, 3) g(j))
    GROUP BY 1
    ORDER BY word
    """,
)
def q_streaming_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.sketches import bloom_bits

    events = read_events_stream(spark, sf_dir)
    keyed = events.select(F.col("user_id").cast("string").alias("k"))
    bits = bloom_bits(keyed, F.col("k"), k=4, m=1 << 16)
    return run_to_batch(bits, "complete").orderBy("word")


# Streaming model scoring: k-means assignment on a stream. Training
# (md5-seeded centroids) happens batch-side; scoring is the map-only
# literal-centroid assignment, which is stateless — so append mode
# needs no watermark and the batch assignment SQL is the oracle.
@register(
    "streaming_kmeans_assign",
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    cent0 AS (
      SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                  AS BIGINT) AS cluster, v AS cvec
      FROM e
      QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8)
    SELECT vec_id, cluster FROM (
      SELECT vec_id, cluster,
             row_number() OVER (PARTITION BY vec_id ORDER BY round(dist, 6), cluster) AS rk
      FROM (SELECT e.vec_id, c.cluster,
                   list_sum(list_transform(generate_series(1, 64),
                     i -> (e.v[i] - c.cvec[i]) * (e.v[i] - c.cvec[i]))) AS dist
            FROM e CROSS JOIN cent0 c))
    WHERE rk = 1
    ORDER BY vec_id
    """,
)
def q_streaming_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.kmeans import assign_to_centroids, seed_centroids
    from deepicedrain_spark.io import load_table

    from deepicedrain_spark.streaming.windows import _stream_dir

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, "embedding", "vec_id", 8)
    stream = spark.readStream.schema(emb.schema).parquet(
        _stream_dir(sf_dir, "embeddings")
    )
    scored = assign_to_centroids(stream, "embedding", cents).select("vec_id", "cluster")
    return run_to_batch(scored, "append").orderBy("vec_id")


# Stream-static enrichment join: the standard production shape a
# streaming pipeline uses to attach dimension attributes to events —
# the static side is a plain batch DataFrame Spark re-broadcasts per
# micro-batch (no state store, no watermark), so the complete-mode
# rollup after it equals the batch join exactly.
@register(
    "streaming_dim_enrich",
    """
    SELECT c.c_mktsegment AS segment,
           count(*) AS n,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_streaming_dim_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.io import load_table

    events = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = events.join(
        F.broadcast(dim), events["user_id"] == dim["c_custkey"]
    )
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    return run_to_batch(agg, "complete").orderBy("segment")


# Streaming quality-classifier scoring: the trained-filter analogue of
# streaming_kmeans_assign — train batch-side (memoized GD logreg over
# hashed bigrams), score the document STREAM map-only with the weight
# vector folded in as a literal. Stateless → append mode, no
# watermark; the batch scoring chain is the oracle verbatim.
def _streaming_classifier_oracle() -> str:
    from deepicedrain_spark.suite_llm import _logreg_chain, _LR_ITERS, _LR_Z

    return (
        _logreg_chain()
        + f""",
    pf AS (
      SELECT f.doc_id, any_value(f.y) AS y,
             CAST(round(round(1.0 / (1.0 + exp(-(sum(f.cnt * w.w6)
                  / (1e6 * {_LR_Z})))), 6) * 1e6) AS BIGINT) AS pm
      FROM feats f JOIN w{_LR_ITERS} w USING (bucket)
      GROUP BY f.doc_id)
    SELECT doc_id AS id, CAST(y AS BIGINT) AS y,
           pm / 1000000.0 AS p,
           CAST(CASE WHEN pm > 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred
    FROM pf
    ORDER BY id
    """
    )


@register("streaming_classifier_score", _streaming_classifier_oracle())
def q_streaming_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.io import load_table
    from deepicedrain_spark.operators.classifier import (
        hashed_bigram_features,
        logreg_score,
    )
    from deepicedrain_spark.streaming.windows import _stream_dir
    from deepicedrain_spark.suite_llm import _LR_B, _trained_logreg

    w6, _ = _trained_logreg(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    stream = spark.readStream.schema(docs.schema).parquet(
        _stream_dir(sf_dir, "documents")
    )
    feats = hashed_bigram_features(stream, F.col("lang") == "en", b=_LR_B)
    scored = logreg_score(feats, w6).drop("correct")
    return run_to_batch(scored, "append").orderBy("id")


# Streaming → parquet table via foreachBatch: the production sink
# (memory sinks are demo-only). Each micro-batch of the complete-mode
# aggregate overwrites the managed parquet dir — idempotent under
# replay, which is the exactly-once story for an aggregate table.
@register(
    "streaming_parquet_sink",
    f"""
    SELECT (epoch_us(ts) // {_HOUR_US}) * {_HOUR_US} AS window_start_us,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    # deterministic per sf_dir (ADVICE r2: uuid names accumulated /tmp
    # litter across runs); overwrite mode already makes reruns
    # idempotent, so the same dir can be reused forever
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out_dir = f"/tmp/deepicedrain_sink_{key}"
    events = read_events_stream(spark, sf_dir)
    agg = tumbling_counts(events, window_minutes=60)

    def write_batch(bdf: DataFrame, _bid: int) -> None:
        bdf.write.mode("overwrite").parquet(out_dir)

    with pinned_conf(spark, STATE_CONF):
        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(write_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


# Exactly-once UPSERT sink (round 3, VERDICT next-step #10): append-
# mode batches MERGE into a versioned parquet table keyed on user_id,
# last-writer-wins by (ts, event_id). Replay idempotence (redelivered
# epoch → no-op) and restart behavior are pinned in
# tests/test_upsert_sink.py; this query certifies the merge VALUES:
# the final table must equal "latest event per user", which the oracle
# computes directly.
@register(
    "streaming_upsert_sink",
    """
    SELECT user_id, value AS last_value, epoch_us(ts) AS last_us
    FROM (
      SELECT user_id, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def q_streaming_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    from deepicedrain_spark.streaming.sink import read_upsert_table, upsert_sink

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out_dir = f"/tmp/deepicedrain_upsert_{key}"
    ckpt = f"{out_dir}_ckpt"
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    events = read_events_stream(spark, sf_dir).select(
        "user_id",
        "value",
        # decimal division: ns → µs without double-precision loss
        (F.col("ts").cast("decimal(38,0)") / 1000).cast("long").alias("t_us"),
        "event_id",
    )
    with pinned_conf(spark, STATE_CONF):
        q = (
            events.writeStream.foreachBatch(
                upsert_sink(spark, out_dir, ["user_id"], ["t_us", "event_id"])
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return read_upsert_table(spark, out_dir).select(
        "user_id", F.col("value").alias("last_value"), F.col("t_us").alias("last_us")
    )


def _staged_versioned_table(spark, sf_dir: str) -> str:
    """Three deterministic upsert batches (batch k = events with
    event_id % 3 == k) applied through apply_upsert_batch — versions
    0/1/2 of a table keyed on user_id, last-writer-wins by
    (t_us, event_id). Staged once per sf_dir (the two snapshot queries
    below share it); rebuilt if the manifest is missing."""
    import hashlib
    import os
    import shutil

    from deepicedrain_spark.streaming.sink import (
        apply_upsert_batch,
        table_history,
    )

    from deepicedrain_spark.io import load_table

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out_dir = f"/tmp/deepicedrain_timetravel_{key}"
    if os.path.exists(os.path.join(out_dir, "_manifest.json")):
        if len(table_history(out_dir)) == 3:
            return out_dir
        shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "value",
        (F.col("ts").cast("decimal(38,0)") / 1000).cast("long").alias("t_us"),
        "event_id",
    )
    for b in range(3):
        batch = ev.filter(F.col("event_id") % 3 == b)
        applied = apply_upsert_batch(
            spark, out_dir, batch, b, ["user_id"], ["t_us", "event_id"]
        )
        if not applied:
            raise AssertionError(f"time travel staging: batch {b} not applied")
    hist = table_history(out_dir)
    if [h["version"] for h in hist] != [0, 1, 2]:
        raise AssertionError(f"time travel staging: bad history {hist}")
    return out_dir


# Time travel (round 8): the versioned upsert table is immutable per
# snapshot, so VERSION AS OF is a manifest lookup — this query gates
# read_upsert_table_at + table_history through the driver: it reads
# snapshot v1 (batches 0 and 1 applied, batch 2 NOT yet visible).
# Upsert semantics are BATCH-WINS (a batch's winner per key replaces
# the table row regardless of event time, like any CDC apply), so the
# oracle orders by (batch DESC, t_us DESC, event_id DESC): a user's
# state at v1 is their best row from the HIGHEST batch <= 1 they
# appear in.
@register(
    "time_travel_read",
    """
    SELECT user_id, value AS last_value, epoch_us(ts) AS last_us
    FROM (
      SELECT user_id, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY event_id % 3 DESC, ts DESC,
                                         event_id DESC) AS rn
      FROM events WHERE event_id % 3 <= 1)
    WHERE rn = 1
    """,
)
def q_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.streaming.sink import read_upsert_table_at

    out_dir = _staged_versioned_table(spark, sf_dir)
    return read_upsert_table_at(spark, out_dir, 1).select(
        "user_id", F.col("value").alias("last_value"), F.col("t_us").alias("last_us")
    )


# Change-data-feed between snapshots (round 8): diff_versions(v1, v2)
# must emit exactly the keys batch 2 rewrote to a DIFFERENT state —
# 'insert' for users first seen there, 'update' for users whose
# batch-wins winner changed; upserts never delete, so the oracle is a
# left-join comparison of the two batch-wins states (same b-DESC
# ordering as time_travel_read).
@register(
    "version_diff_cdf",
    """
    WITH ev AS (
      SELECT user_id, value, epoch_us(ts) AS t_us, event_id,
             event_id % 3 AS b
      FROM events),
    s1 AS (
      SELECT user_id, value, t_us FROM (
        SELECT user_id, value, t_us,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY b DESC, t_us DESC,
                                           event_id DESC) AS rn
        FROM ev WHERE b <= 1) WHERE rn = 1),
    s2 AS (
      SELECT user_id, value, t_us FROM (
        SELECT user_id, value, t_us,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY b DESC, t_us DESC,
                                           event_id DESC) AS rn
        FROM ev) WHERE rn = 1)
    SELECT s2.user_id,
           CASE WHEN s1.user_id IS NULL THEN 'insert'
                WHEN s2.value IS DISTINCT FROM s1.value
                     OR s2.t_us != s1.t_us THEN 'update' END AS change_type,
           s2.value AS value, s2.t_us AS t_us
    FROM s2 LEFT JOIN s1 ON s2.user_id = s1.user_id
    WHERE (CASE WHEN s1.user_id IS NULL THEN 'insert'
                WHEN s2.value IS DISTINCT FROM s1.value
                     OR s2.t_us != s1.t_us THEN 'update' END) IS NOT NULL
    ORDER BY s2.user_id
    """,
)
def q_version_diff_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.streaming.sink import diff_versions

    out_dir = _staged_versioned_table(spark, sf_dir)
    return (
        diff_versions(spark, out_dir, 1, 2, ["user_id"])
        .select("user_id", "change_type", "value", "t_us")
        .orderBy("user_id")
    )


# Streaming -> NetCDF record-append sink (round 4): each micro-batch
# rasterizes its events onto a FIXED (cy, cx) grid and appends ONE
# record to a classic-NetCDF cube whose record dimension is the batch
# axis (sources/netcdf.append_records — O(batch) in-place growth, the
# spatiotemporal.py:443-449 per-cycle stacking as a streaming sink).
# The query returns the cube COLLAPSED across records (sum over the
# batch axis), which is invariant to how the file source splits
# batches — that is what makes a DuckDB oracle possible. Cell sums are
# kept as exact integer cents in float64 grids (classic NetCDF has no
# int64), so the collapse is exact and round(2) matches the oracle
# bit-for-bit.
@register(
    "streaming_netcdf_append",
    """
    SELECT CAST(user_id % 12 AS BIGINT) AS cx,
           CAST(ascii(substring(event_type, 1, 1)) % 8 AS BIGINT) AS cy,
           count(*) AS n,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / 100, 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_netcdf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    import numpy as np

    from deepicedrain_spark.sources.netcdf import (
        append_records_once,
        read_netcdf,
        write_netcdf,
    )

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/deepicedrain_nc_append_{key}.nc"
    if os.path.exists(path):
        os.unlink(path)
    if os.path.exists(path + ".applied.json"):
        os.unlink(path + ".applied.json")
    nx, ny = 12, 8
    write_netcdf(
        path,
        {"batch": None, "y": ny, "x": nx},
        {
            "x": (("x",), np.arange(nx, dtype="i4")),
            "y": (("y",), np.arange(ny, dtype="i4")),
            "n": (("batch", "y", "x"), np.empty((0, ny, nx), dtype="i4")),
            "cents": (("batch", "y", "x"), np.empty((0, ny, nx), dtype="f8")),
        },
    )

    events = read_events_stream(spark, sf_dir)
    cells = events.select(
        F.pmod(F.col("user_id"), F.lit(nx)).alias("cx"),
        F.pmod(F.ascii(F.substring("event_type", 1, 1)), F.lit(ny)).alias("cy"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def write_batch(bdf: DataFrame, bid: int) -> None:
        pdf = (
            bdf.groupBy("cx", "cy")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
            .toPandas()
        )
        gn = np.zeros((ny, nx), dtype="i4")
        gc = np.zeros((ny, nx), dtype="f8")
        if len(pdf):
            gn[pdf["cy"], pdf["cx"]] = pdf["n"]
            gc[pdf["cy"], pdf["cx"]] = pdf["cents"].astype("f8")
        # at-least-once foreachBatch: the sidecar batch-id ledger makes
        # a redelivered micro-batch a no-op instead of a double append
        append_records_once(path, {"n": gn[None, :], "cents": gc[None, :]}, bid)

    try:
        with pinned_conf(spark, STATE_CONF):
            q = (
                cells.writeStream.outputMode("append")
                .foreachBatch(write_batch)
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{path}_ckpt_{key}")
                .start()
            )
            q.awaitTermination()
    finally:
        import shutil

        shutil.rmtree(f"{path}_ckpt_{key}", ignore_errors=True)

    # collapse the batch axis -> the order-invariant totals
    _dims, vs, _g = read_netcdf(path)
    n_tot = vs["n"][1].astype("i8").sum(axis=0)
    cents_tot = vs["cents"][1].sum(axis=0)
    cy_i, cx_i = np.nonzero(n_tot)
    import pandas as pd

    out = pd.DataFrame(
        {
            "cx": cx_i.astype("int64"),
            "cy": cy_i.astype("int64"),
            "n": n_tot[cy_i, cx_i],
            "sum_value": np.round(cents_tot[cy_i, cx_i] / 100.0, 2),
        }
    )
    return spark.createDataFrame(out)


# Bucket-partitioned upsert sink (round 4): identical MERGE semantics
# to streaming_upsert_sink, but rows live under v=<n>/b=<bucket> and a
# batch rewrites ONLY the buckets its keys hash into (untouched
# buckets hard-link into the new version). The oracle is the same
# "latest event per user" — bucketing must be invisible in the values;
# tests/test_upsert_sink.py proves the O(touched-buckets) rewrite via
# inode identity.
@register(
    "streaming_upsert_bucketed",
    """
    SELECT user_id, value AS last_value, epoch_us(ts) AS last_us
    FROM (
      SELECT user_id, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def q_streaming_upsert_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    from deepicedrain_spark.streaming.sink import (
        apply_upsert_batch_bucketed,
        read_upsert_table_bucketed,
    )

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out_dir = f"/tmp/deepicedrain_upsert_bkt_{key}"
    ckpt = f"{out_dir}_ckpt"
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    events = read_events_stream(spark, sf_dir).select(
        "user_id",
        "value",
        (F.col("ts").cast("decimal(38,0)") / 1000).cast("long").alias("t_us"),
        "event_id",
    )

    def write_batch(bdf: DataFrame, bid: int) -> None:
        apply_upsert_batch_bucketed(
            spark, out_dir, bdf, bid, ["user_id"], ["t_us", "event_id"], n_buckets=16
        )

    with pinned_conf(spark, STATE_CONF):
        q = (
            events.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return read_upsert_table_bucketed(spark, out_dir).select(
        "user_id", F.col("value").alias("last_value"), F.col("t_us").alias("last_us")
    )


# --- streaming MinHash-LSH near-dup gate (round 10, session 2) ----------
# Dedup-on-ingest: four micro-batches of documents flow through
# streaming/neardup.py's persisted band-index gate. The gate's
# semantics are arrival-order invariant (dup = smaller-id verified
# near-duplicate exists ANYWHERE in the stream; markers min-merge), so
# the oracle is the plain batch statement of the same predicate — any
# batch split of the same corpus must produce this exact table. The
# fixture's near-dup pairs sit at J ∈ {0.9, 1.0} where 16-band recall
# is 1 (same argument as minhash_near_dup), so band-collision+verify
# equals the exact-Jaccard predicate here.
@register(
    "streaming_lsh_dedup",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
      FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    dups AS (
      SELECT id_b AS doc_id, min(id_a) AS dup_of
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
      GROUP BY 1)
    SELECT d.doc_id, dup_of IS NULL AS kept, dup_of
    FROM documents d LEFT JOIN dups USING (doc_id)
    """,
)
def q_streaming_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from deepicedrain_spark.io import load_table
    from deepicedrain_spark.streaming.neardup import near_dup_gate, read_gate_result
    from deepicedrain_spark.suite_custom import scratch_path

    feed = scratch_path(sf_dir, "lshdedup_feed")
    state = scratch_path(sf_dir, "lshdedup_state")
    ckpt = scratch_path(sf_dir, "lshdedup_ckpt")
    shutil.rmtree(state, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    docs = load_table(spark, sf_dir, "documents")
    n_feed = 4
    have = (
        [f for f in os.listdir(feed) if f.endswith(".parquet")]
        if os.path.isdir(feed)
        else []
    )
    # restage when the SOURCE is newer than the staged feed — a
    # regenerated documents.parquet must not read against a stale
    # split (the fixture-swap lesson from the HDF5 scratch dirs)
    src_mtime = os.path.getmtime(os.path.join(sf_dir, "documents.parquet"))
    stale = bool(have) and min(
        os.path.getmtime(os.path.join(feed, f)) for f in have
    ) < src_mtime
    if len(have) != n_feed or stale:
        tmp = f"{feed}.staging.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for b in range(n_feed):
            part = f"{tmp}_b{b}"
            docs.filter(F.col("doc_id") % n_feed == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(part)
            src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
            os.replace(os.path.join(part, src), os.path.join(tmp, f"batch_{b}.parquet"))
            shutil.rmtree(part)
        shutil.rmtree(feed, ignore_errors=True)
        os.replace(tmp, feed)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    gate = near_dup_gate(spark, state, threshold=0.8)
    # AQE re-plans after every shuffle — ~1 s/batch of fixed cost on
    # these kilobyte exchanges (min-of-4: 13.7 s with, 9.7 s without
    # at sf0.1). Leave it ON for production batch sizes; the demo's
    # micro-batches are below its break-even.
    with pinned_conf(spark, {**STATE_CONF, "spark.sql.adaptive.enabled": "false"}):
        q = (
            stream.writeStream.foreachBatch(gate)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return read_gate_result(spark, state)


# Streaming decontamination gate: the ingest-side twin of
# ngram_decontamination (suite_retrieval) — block a doc the moment it
# arrives if it shares ANY 13-gram with the eval benchmark. The
# benchmark's distinct grams are benchmark-sized, so they fold into
# the stream as a LITERAL array: the whole gate is one map-side
# projection (array_intersect per doc), append mode, no state, no
# shuffle — the cheapest possible streaming-gate shape (vs
# streaming_lsh_dedup's stateful band index, which exists for the
# corpus-vs-ITSELF problem; contamination is corpus-vs-fixed-set).
def _decontamination_oracle() -> str:
    # the batch query's oracle verbatim (ONE definition — the batch and
    # streaming contracts must stay in sync)
    from deepicedrain_spark.suite_retrieval import DECON_ORACLE_SQL

    return DECON_ORACLE_SQL


@register("streaming_decontamination", _decontamination_oracle())
def q_streaming_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.io import load_table
    from deepicedrain_spark.operators.dedup import word_shingles
    from deepicedrain_spark.operators.textstats import whitespace_tokens
    from deepicedrain_spark.streaming.windows import _stream_dir

    docs = load_table(spark, sf_dir, "documents")
    w = whitespace_tokens(F.col("text"))
    bench = (
        docs.select("doc_id", w.alias("_w"))
        .filter((F.size("_w") >= 21) & (F.col("doc_id") < 40))
        .select(F.array_join(F.slice("_w", 2, 19), " ").alias("text"))
    )
    grams = sorted(
        r["_g"]
        for r in word_shingles(bench, "text", 13, out="_gs")
        .select(F.explode("_gs").alias("_g"))
        .distinct()
        .collect()
    )  # benchmark-sized driver state (the kmeans-centroid pattern)

    stream = spark.readStream.schema(docs.schema).parquet(
        _stream_dir(sf_dir, "documents")
    )
    lit_grams = F.array(*[F.lit(g) for g in grams])
    # Generate fence (the r9 kmv lesson's shape): filtering directly on
    # the derived count collapses the WHOLE shingle+intersect expression
    # into the scan's interpreted filter path (measured 19.5 s at sf0.1
    # for a map-only plan); exploding a 1-element struct puts the filter
    # above the Generate on the materialized count — 2.6 s, same rows
    gated = (
        word_shingles(stream, "text", 13, out="_gs")
        .select(
            "doc_id",
            F.explode(
                F.array(
                    F.struct(
                        F.size(F.array_intersect("_gs", lit_grams))
                        .cast("long")
                        .alias("n_matching_ngrams")
                    )
                )
            ).alias("_x"),
        )
        .select("doc_id", F.col("_x.n_matching_ngrams").alias("n_matching_ngrams"))
        .filter(F.col("n_matching_ngrams") > 0)
    )
    return run_to_batch(gated, "append").orderBy("doc_id")


# Streaming SEMANTIC decontamination gate: the ingest-side twin of
# semantic_decontamination (suite_retrieval) exactly as
# streaming_decontamination twins ngram_decontamination — block a doc
# the moment it arrives if its embedding lands within cos >= t of ANY
# benchmark vector. The benchmark is eval-set-sized, so it stays a
# static DataFrame broadcast as ONE row (operators.dedup.
# semantic_decontamination_gate): a stream–static join scored by one
# lambda per row — map-side, append mode, no state, no driver collect,
# and the plan does not grow with the benchmark. Stream-final == batch
# exactly (stateless map + filter), so the batch SQL is the oracle
# verbatim (one definition, both contracts in sync).
def _semantic_decon_oracle() -> str:
    from deepicedrain_spark.suite_retrieval import SEMANTIC_DECON_SQL

    return SEMANTIC_DECON_SQL


@register("streaming_semantic_decontamination", _semantic_decon_oracle())
def q_streaming_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from deepicedrain_spark.io import load_table
    from deepicedrain_spark.operators.dedup import semantic_decontamination_gate
    from deepicedrain_spark.streaming.windows import _stream_dir

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < 30).select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> cast(x as double)"
            " + 0.05D * (((i + 1) % 3) - 1))"
        ).alias("embedding"),
    )
    stream = spark.readStream.schema(emb.schema).parquet(
        _stream_dir(sf_dir, "embeddings")
    )
    gated = semantic_decontamination_gate(stream, bench, threshold=0.9)
    return run_to_batch(gated, "append").orderBy("vec_id")


# Streaming PSI drift gate (round 11): the Population Stability Index
# as an INGEST monitor — the reference-slice decile edges are computed
# once batch-side (value-domain shape, then collected: 9 doubles, the
# kmeans-centroid bounded-model pattern) and folded into the stream
# projection as a literal array, so per-batch work is one map-side
# bucket expression + a 10-group count in complete mode. Count-merge is
# order/replay/retraction-free, so the stream's final bucket counts
# equal the batch ones EXACTLY and the batch PSI statement
# (suite_retrieval.PSI_VALUE_DRIFT_SQL) is the oracle verbatim — same
# invariance argument as streaming_hll_users / streaming_bloom_bits.
from deepicedrain_spark.suite_retrieval import PSI_VALUE_DRIFT_SQL  # noqa: E402


@register("streaming_psi_drift", PSI_VALUE_DRIFT_SQL)
def q_streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.io import load_table
    from deepicedrain_spark.operators.evalmetrics import (
        psi_bucket_counts,
        psi_bucket_expr,
        psi_from_bucket_counts,
        psi_ref_edges,
    )

    ev = load_table(spark, sf_dir, "events")
    ref = ev.filter(F.pmod("user_id", F.lit(2)) == 0)
    edges_df = psi_ref_edges(ref, "value", 10)
    edge_vals = edges_df.collect()[0]["edges"]  # bounded: buckets-1 doubles
    stream = read_events_stream(spark, sf_dir).filter(
        F.pmod("user_id", F.lit(2)) == 1
    )
    lit_edges = F.array(*[F.lit(float(e)) for e in edge_vals])
    counts = (
        stream.select(psi_bucket_expr(F.col("value"), lit_edges).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_cur"))
    )
    cur_counts = run_to_batch(counts, "complete")
    ref_counts = psi_bucket_counts(ref, edges_df, "value", "c_ref")
    return psi_from_bucket_counts(spark, ref_counts, cur_counts, 10)
