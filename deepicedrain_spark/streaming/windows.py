"""Structured Streaming operators (SURVEY §2.11 — extension beyond the
batch-only reference, per BASELINE.json north star): windowed
aggregates with watermarks, stateful dedup, session windows.

The same aggregates the batch engine exposes (A9 raster counts, W1
rolling means) are re-expressed as streaming plans: ``readStream`` →
watermark → window agg → sink. Tests and the driver contract run them
to completion over bounded parquet with ``Trigger.AvailableNow`` into
a memory sink — the identical plan runs unbounded against Kafka/files
in production (swap the source/sink, keep the plan).

Watermark notes: 'complete' output mode is used for windowed aggs so
bounded replays emit every window (append mode would hold back the
final watermark-open windows — correct for unbounded streams,
surprising for finite ones). Stateful dedup uses append (first
occurrence wins, emitted immediately).
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# schema-read memo (r12 optimization round; io.load_table pattern):
# every streaming query paid a fresh driver-side parquet footer read
# (~0.1 s) per build just to recover the source schema. Caches the
# SCHEMA only — no data, no plans; (mtime_ns, size) invalidates on a
# regenerated table.
_SCHEMA_CACHE: dict[tuple, StructType] = {}
_SCHEMA_CACHE_CAP = 64


def _events_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """Stream-source schema = the batch reader's parquet footer schema
    (file streams need an explicit schema; deriving it from the footer
    keeps the stream correct under either ``ts`` encoding — INT64 ns
    or TIMESTAMP(MICROS) — see io.load_table)."""
    import os

    path = os.path.join(sf_dir, "events.parquet")
    try:
        st = os.stat(path)
        fp = (st.st_mtime_ns, st.st_size)
    except OSError:
        fp = None
    key = (spark.sparkContext.applicationId, os.path.abspath(path), fp)
    if fp is not None and key in _SCHEMA_CACHE:
        return _SCHEMA_CACHE[key]
    schema = spark.read.parquet(path).schema
    if fp is not None:
        while len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_CAP:
            _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)))
        _SCHEMA_CACHE[key] = schema
    return schema


def _stream_dir(sf_dir: str, table: str = "events") -> str:
    """Spark's file stream source requires a DIRECTORY; the testdata is
    a single parquet file, so stage a symlink dir under /tmp."""
    import hashlib
    import os

    key = hashlib.md5(f"{sf_dir}/{table}".encode()).hexdigest()[:8]
    d = f"/tmp/deepicedrain_stream_{key}"
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    # absolute target (a relative one would resolve against /tmp —
    # silently-empty stream) and lexists (exists() follows the symlink,
    # so a broken link would re-raise FileExistsError on re-create)
    src = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    if os.path.isdir(src):
        # a directory-shaped table (multi-part parquet write): the file
        # stream source does not recurse into subdirectories, so link
        # each part file into the staging dir instead of the dir itself
        # link names derive from the TARGET file name (stable per
        # content — Spark part files embed a job UUID), never from the
        # sort position: a positional name could survive a rewrite while
        # silently pointing at a different file, and the file-stream
        # source dedups by seen path so the retargeted link's new
        # contents would never be read (ADVICE r7 low)
        targets = {
            f: os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet")
        }
    else:
        targets = {f"{table}.parquet": src}
    for name, tgt in targets.items():
        lk = os.path.join(d, name)
        if os.path.islink(lk) and os.readlink(lk) != tgt:
            os.unlink(lk)  # same hash key, different resolved target
        if not os.path.lexists(lk):
            os.symlink(tgt, lk)
    # drop stale links from a previous staging of this key (e.g. the
    # table shrank from 8 parts to 4, or switched file <-> directory)
    for name in os.listdir(d):
        p = os.path.join(d, name)
        if os.path.islink(p) and name not in targets:
            os.unlink(p)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (bounded replay; in
    production point this at a directory Kafka/Firehose appends to)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover
        pass
    from deepicedrain_spark.functions.timeutils import timestamp_to_ns

    schema = _events_schema(spark, sf_dir)
    stream = spark.readStream.schema(schema).parquet(_stream_dir(sf_dir))
    # One convention downstream regardless of the parquet encoding:
    # ts = epoch-ns LongType; event_time = the µs-truncated instant
    # (timestamp_micros is timezone-independent — epoch in, epoch out).
    stream = stream.withColumn(
        "ts", timestamp_to_ns(F.col("ts"), schema["ts"].dataType)
    )
    return stream.withColumn(
        "event_time",
        F.timestamp_micros((F.col("ts").cast("decimal(38,0)") / 1000).cast("long")),
    )


# Every shuffle partition materializes a state store per micro-batch,
# so a bounded replay wants a handful, not the batch engine's fan-out.
# Unbounded production streams should size this to their key cardinality.
STATE_CONF = {"spark.sql.shuffle.partitions": "8"}


@contextmanager
def pinned_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Pin Spark conf keys for a stream's lifetime and restore the
    previous values afterwards, on failure too."""
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def run_to_batch(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Execute a (bounded) streaming plan to completion via
    Trigger.AvailableNow into a memory sink; return the result table
    (conf pinned to :data:`STATE_CONF`)."""
    spark = stream_df.sparkSession
    name = f"s_{uuid.uuid4().hex[:12]}"
    with pinned_conf(spark, STATE_CONF):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def tumbling_counts(
    events: DataFrame,
    window_minutes: int = 60,
    watermark_minutes: int = 60,
) -> DataFrame:
    """Tumbling-window counts/sums per event_type. Decimal sums so the
    result is exactly reproducible by a batch oracle."""
    return (
        events.withWatermark("event_time", f"{watermark_minutes} minutes")
        .groupBy(
            F.window("event_time", f"{window_minutes} minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_means(
    events: DataFrame,
    window_minutes: int = 120,
    slide_minutes: int = 60,
    watermark_minutes: int = 60,
) -> DataFrame:
    """Sliding-window mean per event_type (each event lands in
    window/slide overlapping windows)."""
    return (
        events.withWatermark("event_time", f"{watermark_minutes} minutes")
        .groupBy(
            F.window(
                "event_time", f"{window_minutes} minutes", f"{slide_minutes} minutes"
            ).alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count("value")
            ).alias("mean_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "mean_value",
        )
    )


def stateful_dedup(events: DataFrame, keys: list[str]) -> DataFrame:
    """Streaming GLOBAL dedup: the first occurrence of each key ever
    seen wins. State is one row per DISTINCT KEY, kept forever — bounded
    by key cardinality, not time. That is the right contract when keys
    are entities (users, docs); for time-windowed dedup on an unbounded
    stream use stateful_dedup_within_watermark below.

    No watermark: it could not evict this state (Spark evicts
    dropDuplicates state only when the event-time column is one of the
    keys, which would change the semantics), but it did filter late
    input. From the third micro-batch on (the late-row filter lags one
    batch), a first occurrence more than the delay behind the watermark
    was dropped, which diverges from the DISTINCT contract. Without it,
    every new key is emitted, and availableNow runs lose the trailing
    no-data batch that only advanced the watermark."""
    return events.dropDuplicates(keys)


def stateful_dedup_within_watermark(
    events: DataFrame, keys: list[str], watermark_minutes: int = 60
) -> DataFrame:
    """Time-bounded streaming dedup: duplicates arriving within the
    watermark delay of the first occurrence are dropped, and the state
    store evicts keys once the watermark passes them
    (``dropDuplicatesWithinWatermark``) — the unbounded-stream shape
    where state must be O(keys-per-watermark-window), not O(all keys
    ever). Duplicates farther apart than the delay re-emit by design."""
    return events.withWatermark(
        "event_time", f"{watermark_minutes} minutes"
    ).dropDuplicatesWithinWatermark(keys)


def running_anomaly(events: DataFrame, watermark_minutes: int = 60) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    anomaly vs the first-seen value (the streaming form of W2,
    reference atlxi_xover.py:293-294 ``h - h.iloc[0]``).

    State = the user's first value (one double), carried across
    micro-batches; each incoming event emits ``value - first``. Rows
    inside a batch are sorted by (ts, event_id) before folding so the
    result is independent of shuffle delivery order. Output is one row
    per event (append mode) with bounded state — the 100 TB-stream
    shape for any "relative to series start" analytics."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("anom", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("first", DoubleType())])

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        rows = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        if state.exists:
            (first,) = state.get
        else:
            first = float(rows.iloc[0]["value"])
        state.update((first,))
        yield pd.DataFrame(
            {
                "user_id": rows["user_id"].astype("int64"),
                "event_id": rows["event_id"].astype("int64"),
                "ts_us": rows["ts"].astype("int64") // 1000,
                "anom": rows["value"].astype("float64") - first,
            }
        )

    return (
        events.withWatermark("event_time", f"{watermark_minutes} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def session_counts(events: DataFrame, gap_minutes: int = 5, watermark_minutes: int = 60) -> DataFrame:
    """Session windows per user: events within ``gap`` of each other
    merge into one session (stateful session_window aggregation)."""
    return (
        events.withWatermark("event_time", f"{watermark_minutes} minutes")
        .groupBy(
            F.session_window("event_time", f"{gap_minutes} minutes").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "user_id",
            "n_events",
        )
    )


def interval_join(
    events: DataFrame,
    left_type: str,
    right_type: str,
    key: str = "user_id",
    within_minutes: int = 30,
    watermark_minutes: int = 120,
) -> DataFrame:
    """Stream-stream interval join: each ``left_type`` event matched to
    the ``right_type`` events of the same key within
    ``[t_left, t_left + within]``.

    Both sides carry watermarks and the join condition bounds the
    right side's event time relative to the left's, so the state store
    evicts rows once the watermark passes (bounded state on unbounded
    streams — the canonical Structured Streaming join shape). Append
    mode emits each match exactly once.
    """
    lhs = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col(key),
            F.col("event_id").alias("left_id"),
            F.col("event_time").alias("lt"),
        )
        .withWatermark("lt", f"{watermark_minutes} minutes")
    )
    rhs = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col(key).alias("_rk"),
            F.col("event_id").alias("right_id"),
            F.col("event_time").alias("rt"),
        )
        .withWatermark("rt", f"{watermark_minutes} minutes")
    )
    return lhs.join(
        rhs,
        (F.col(key) == F.col("_rk"))
        & (F.col("rt") >= F.col("lt"))
        & (F.col("rt") <= F.col("lt") + F.expr(f"INTERVAL {within_minutes} MINUTES")),
        "inner",
    ).select(
        key,
        "left_id",
        "right_id",
        (F.unix_micros(F.col("rt")) - F.unix_micros(F.col("lt"))).alias("delta_us"),
    )


def asof_attach(
    events: DataFrame,
    left_type: str,
    right_type: str,
    tolerance_us: int | None = None,
    watermark_minutes: int = 120,
) -> DataFrame:
    """Streaming as-of join on one keyed stream: every ``left_type``
    event is emitted with the latest ``right_type`` value at-or-before
    it (the streaming form of operators/asof.py's backward join —
    feature-store "latest feature value" semantics).

    Custom stateful operator via ``applyInPandasWithState``: state per
    user = (last right time, last right value) — O(1) per key forever,
    the minimal state any as-of needs. Rows inside a micro-batch are
    folded in (µs-truncated time, right-before-left, event_id) order —
    ties are created by the ns→µs truncation, and folding rights first
    makes the join inclusive at equal instants, matching both the batch
    operator's tie rule (asof.py _side ordering) and the DuckDB oracle
    (t_us >= p_us); equal-instant right duplicates keep the max value
    (same tie rule as the batch query's pre-aggregation).
    Cross-batch correctness assumes time-ordered arrival (guaranteed in
    the bounded replay; production sources need the watermark to bound
    disorder)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("click_id", LongType()),
            StructField("t_us", LongType()),
            StructField("purchase_value", DoubleType()),
            StructField("purchase_t_us", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("rt", LongType()), StructField("rv", DoubleType())]
    )

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        prior = state.get if state.exists else (None, None)
        out, last_rt, last_rv = _asof_fold(
            pd.concat(list(pdf_iter)), prior, int(key[0]), left_type, right_type, tolerance_us
        )
        if last_rt is not None:
            state.update((last_rt, last_rv))
        yield pd.DataFrame(out)

    filtered = events.filter(F.col("event_type").isin([left_type, right_type]))
    return (
        filtered.withWatermark("event_time", f"{watermark_minutes} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def _asof_fold(rows, prior, key, left_type, right_type, tolerance_us):
    """Shared micro-batch fold for both stateful as-of backends.

    Sorts on the TRUNCATED time with rights first at equal instants: a
    click sharing a µs with a purchase must see it (inclusive as-of),
    regardless of raw-ns / event_id order. Equal-instant right
    duplicates keep the max value (the batch query's pre-agg tie
    rule)."""
    rows = rows.copy()
    rows["_t_us"] = rows["ts"].astype("int64") // 1000
    rows["_side"] = (rows["event_type"] != right_type).astype("int64")
    rows = rows.sort_values(["_t_us", "_side", "event_id"])
    last_rt, last_rv = prior
    out = {k: [] for k in ("user_id", "click_id", "t_us", "purchase_value", "purchase_t_us")}
    for _, r in rows.iterrows():
        t_us = int(r["_t_us"])
        if r["event_type"] == right_type:
            v = float(r["value"])
            if last_rt == t_us:
                last_rv = max(last_rv, v)
            else:
                last_rt, last_rv = t_us, v
        elif r["event_type"] == left_type:
            ok = last_rt is not None and (
                tolerance_us is None or t_us - last_rt <= tolerance_us
            )
            out["user_id"].append(key)
            out["click_id"].append(int(r["event_id"]))
            out["t_us"].append(t_us)
            out["purchase_value"].append(last_rv if ok else None)
            out["purchase_t_us"].append(last_rt if ok else None)
    return out, last_rt, last_rv


def asof_attach_tws(
    events: DataFrame,
    left_type: str,
    right_type: str,
    tolerance_us: int | None = None,
    watermark_minutes: int = 120,
) -> DataFrame:
    """Streaming as-of via ``transformWithStateInPandas`` (Spark 4's
    operator-state API): identical semantics to :func:`asof_attach`
    (same shared fold), but state lives in typed per-key ValueState in
    the JVM state store (RocksDB provider) rather than a pickled
    GroupState blob — the forward path for evolving-schema state,
    timers/TTL, and state-store-native checkpointing. Python remains in
    the loop (the processor is a pandas UDF); a fully JVM-side as-of
    would need the Scala transformWithState surface, which PySpark does
    not expose.

    Requires ``spark.sql.streaming.stateStore.providerClass`` =
    RocksDBStateStoreProvider (set it before starting the query; the
    suite entry does)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("click_id", LongType()),
            StructField("t_us", LongType()),
            StructField("purchase_value", DoubleType()),
            StructField("purchase_t_us", LongType()),
        ]
    )

    class _AsofProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._last = handle.getValueState("last_right", "rt long, rv double")

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            prior = tuple(self._last.get()) if self._last.exists() else (None, None)
            out, last_rt, last_rv = _asof_fold(
                pd.concat(list(rows)), prior, int(key[0]), left_type, right_type, tolerance_us
            )
            if last_rt is not None:
                self._last.update((last_rt, last_rv))
            yield pd.DataFrame(out)

        def close(self) -> None:
            pass

    filtered = events.filter(F.col("event_type").isin([left_type, right_type]))
    return (
        filtered.withWatermark("event_time", f"{watermark_minutes} minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _AsofProcessor(), out_schema, "append", "None"
        )
    )
