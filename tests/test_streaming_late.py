"""Event-time late-arrival semantics (VERDICT r4 task 7): pin what
Structured Streaming actually does with late rows at the watermark
boundary for the session aggregation and the stateful as-of join.

Observed (Spark 4.x, deterministic under availableNow +
maxFilesPerTrigger=1 with ordered file mtimes):

- a late row whose session STATE IS STILL LIVE merges into the session
  even when older than the watermark — the watermark is permission to
  drop, not a guarantee (Spark's documented contract);
- a late row arriving AFTER its session state was evicted is dropped
  and never produces a duplicate/overlapping session in append mode;
- a late row still inside the watermark is aggregated normally;
- applyInPandasWithState (the as-of join) receives late rows — Spark
  does not auto-filter input for arbitrary stateful operators; the
  handler owns late-data policy.
"""

import os
import time

import pytest
from pyspark.sql import functions as F

from deepicedrain_spark.streaming.windows import run_to_batch, session_counts

US = 1_000_000


def _ts(minutes: int) -> int:
    return minutes * 60 * US


def _write_batch(spark, d: str, name: str, rows, mtime: float, schema: str, cols):
    """One parquet dir per micro-batch; mtime ordering drives the file
    source's batch order under maxFilesPerTrigger=1."""
    pdf = spark.createDataFrame(rows, schema).select(*cols)
    pdf.coalesce(1).write.mode("overwrite").parquet(f"{d}/{name}")
    for root, _, files in os.walk(f"{d}/{name}"):
        for f in files:
            os.utime(os.path.join(root, f), (mtime, mtime))


def _event_stream(spark, d: str):
    return (
        spark.readStream.schema("user_id long, event_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )


def _sessions(spark, d: str):
    out = run_to_batch(
        session_counts(_event_stream(spark, d), gap_minutes=5, watermark_minutes=10),
        "append",
    )
    return sorted(
        (r["user_id"], r["session_start_us"] // (60 * US),
         r["session_end_us"] // (60 * US), r["n_events"])
        for r in out.collect()
    )


def _user_ts(spark, rows, d, name, mtime):
    _write_batch(
        spark, d, name,
        [(u, _ts(m)) for u, m in rows],
        mtime,
        "user_id long, t_us long",
        ["user_id", F.timestamp_micros("t_us").alias("event_time")],
    )


def test_late_row_merges_while_state_live(spark, tmp_path):
    """Watermark 10:50 entering batch 2; the 10:02 row is 48 min late,
    but user 1's session state is still live -> it merges (n=3), while
    the 10:55 row (inside watermark) opens its own session."""
    d = str(tmp_path / "s1")
    base = time.time() - 1000
    _user_ts(spark, [(1, 600), (1, 601), (9, 660)], d, "b1", base)
    _user_ts(spark, [(1, 655), (1, 602)], d, "b2", base + 100)
    _user_ts(spark, [(7, 750)], d, "b3", base + 200)  # watermark flusher
    got = _sessions(spark, d)
    assert (1, 600, 607, 3) in got  # late row MERGED into live state
    assert (1, 655, 660, 1) in got  # within-watermark row aggregated
    assert (9, 660, 665, 1) in got
    # flusher's own session is still inside the final watermark: no row
    assert not any(u == 7 for u, *_ in got)


def test_late_row_dropped_after_state_evicted(spark, tmp_path):
    """User 1's session finalizes at the batch-2 boundary (watermark
    10:50 > session end 10:06). The 10:02 row arriving AFTER eviction is
    dropped — and append mode never emits a duplicate session."""
    d = str(tmp_path / "s2")
    base = time.time() - 1000
    _user_ts(spark, [(1, 600), (1, 601), (9, 660)], d, "b1", base)
    _user_ts(spark, [(9, 661)], d, "b2", base + 100)  # finalizes user 1
    _user_ts(spark, [(1, 602)], d, "b3", base + 200)  # late, state gone
    _user_ts(spark, [(7, 750)], d, "b4", base + 300)  # flusher
    got = _sessions(spark, d)
    u1 = [g for g in got if g[0] == 1]
    assert u1 == [(1, 600, 606, 2)]  # late row dropped, no duplicate
    assert (9, 660, 666, 2) in got


def test_asof_join_receives_late_rows(spark, tmp_path):
    """applyInPandasWithState: Spark delivers late input to arbitrary
    stateful operators (no auto-filter). A click 50 min older than the
    watermark still reaches the as-of fold and attaches the latest
    purchase state — the handler, not the engine, owns late policy."""
    from deepicedrain_spark.streaming.windows import asof_attach

    d = str(tmp_path / "s3")
    base = time.time() - 1000
    schema = "user_id long, event_id long, event_type string, value double, t_us long"
    cols = [
        "user_id", "event_id", "event_type", "value",
        F.timestamp_micros("t_us").alias("event_time"),
        (F.col("t_us") * 1000).alias("ts"),
    ]
    _write_batch(
        spark, d, "b1",
        [(1, 10, "purchase", 5.0, _ts(600)), (1, 11, "click", 0.0, _ts(601)),
         (9, 12, "click", 0.0, _ts(660))],
        base, schema, cols,
    )
    # batch 2: click at 10:05 — 45 min behind the 10:50 watermark
    _write_batch(
        spark, d, "b2",
        [(1, 13, "click", 0.0, _ts(605))],
        base + 100, schema, cols,
    )
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, event_type string, value double, "
            "event_time timestamp, ts long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = run_to_batch(
        asof_attach(stream, "click", "purchase", watermark_minutes=10), "append"
    )
    rows = {r["click_id"]: r["purchase_value"] for r in out.collect()}
    assert rows[11] == 5.0            # in-order click sees the purchase
    assert rows[12] is None           # other key: no purchase state
    assert 13 in rows                 # LATE click was delivered, not dropped
    assert rows[13] == 5.0            # and folded against the kept state


def test_stream_dir_links_are_named_by_target_not_position(tmp_path, monkeypatch):
    """ADVICE r7 (low): link names must derive from the target part-file
    names, not the sort position — positional names can survive a table
    rewrite while pointing at a DIFFERENT file, and the file-stream
    source dedups by seen path so the retargeted content is never read.
    Non-parquet entries (_SUCCESS) must not shift the mapping either."""
    import os

    from deepicedrain_spark.streaming.windows import _stream_dir

    src = tmp_path / "events.parquet"
    src.mkdir()
    (src / "_SUCCESS").write_text("")
    names_v1 = ["part-00000-aaaa.parquet", "part-00001-bbbb.parquet"]
    for n in names_v1:
        (src / n).write_bytes(b"v1" + n.encode())

    d = _stream_dir(str(tmp_path), "events")
    links = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    assert links == sorted(names_v1)  # target-derived, _SUCCESS ignored

    # rewrite: different part names/count — old links vanish, new names
    # appear as NEW paths (so the stream source will read them)
    for n in names_v1:
        (src / n).unlink()
    (src / "part-00000-cccc.parquet").write_bytes(b"v2")
    d2 = _stream_dir(str(tmp_path), "events")
    assert d2 == d
    links2 = sorted(f for f in os.listdir(d2) if f.endswith(".parquet"))
    assert links2 == ["part-00000-cccc.parquet"]
    assert not (set(links) & set(links2))  # no name reuse across rewrites


# --- streaming MinHash-LSH near-dup gate (round 10, session 2) ----------


def _gate_docs(spark):
    from pyspark.sql import Row

    words = [f"w{i}" for i in range(30)]
    base = " ".join(words)
    rows = [
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base),  # exact dup of 0
        # near-dup: two words appended — 28 of 30 shingles shared,
        # J = 28/30 ≈ 0.93 ≥ 0.8 with band recall ~1-3e-10
        Row(doc_id=2, text=base + " extra tail"),
        Row(doc_id=3, text="one two three four five six seven eight nine ten"),
        Row(doc_id=4, text="completely different words entirely unrelated content here now"),
        Row(doc_id=5, text=base),  # dup of 0 (and 1)
        Row(doc_id=6, text="xx"),  # too short for 3-shingles: always kept
    ]
    return spark.createDataFrame(rows)


def _run_gate(spark, docs, splits, tmp_path, tag, bucketed=0):
    import pyspark.sql.functions as F

    from deepicedrain_spark.streaming.neardup import near_dup_gate, read_gate_result

    state = str(tmp_path / f"gate_{tag}")
    gate = near_dup_gate(spark, state, threshold=0.8, workers=2, bucketed=bucketed)
    for b, pred in enumerate(splits):
        gate(docs.filter(pred), b)
    return (
        sorted(tuple(r) for r in read_gate_result(spark, state).collect()),
        state,
    )


def test_near_dup_gate_batch_split_invariant(spark, tmp_path):
    import pyspark.sql.functions as F

    docs = _gate_docs(spark)
    one = [F.lit(True)]
    by_parity = [F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1]
    reversed_halves = [F.col("doc_id") >= 4, F.col("doc_id") < 4]
    r1, _ = _run_gate(spark, docs, one, tmp_path, "one")
    r2, _ = _run_gate(spark, docs, by_parity, tmp_path, "parity")
    r3, _ = _run_gate(spark, docs, reversed_halves, tmp_path, "rev")
    assert r1 == r2 == r3
    verdict = {d: (kept, dup) for d, kept, dup in r1}
    assert verdict[0] == (True, None)
    assert verdict[1] == (False, 0)
    assert verdict[2] == (False, 0)  # near-dup caught, min earlier id
    assert verdict[3] == (True, None)
    assert verdict[4] == (True, None)
    assert verdict[5] == (False, 0)
    assert verdict[6] == (True, None)  # shingle-less doc passes


def test_near_dup_gate_bucketed_layout_identical(spark, tmp_path):
    """bucketed=B state layout: verdicts row-identical to the flat
    layout for every batch split, replay-safe, and the verify join's
    STATE side arrives pre-partitioned (no Exchange over the bucketed
    scan even with broadcast disabled)."""
    import pyspark.sql.functions as F

    from deepicedrain_spark.streaming.neardup import (
        _bucket_specs,
        near_dup_gate,
        read_gate_result,
    )

    docs = _gate_docs(spark)
    one = [F.lit(True)]
    by_parity = [F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1]
    flat, _ = _run_gate(spark, docs, by_parity, tmp_path, "flat_ref")
    b1, st1 = _run_gate(spark, docs, one, tmp_path, "bkt_one", bucketed=4)
    b2, st2 = _run_gate(spark, docs, by_parity, tmp_path, "bkt_par", bucketed=4)
    assert flat == b1 == b2

    # replay skipped via manifest in bucketed mode too
    gate = near_dup_gate(spark, st2, threshold=0.8, workers=2, bucketed=4)
    gate(docs.filter(F.col("doc_id") % 2 == 0), 0)
    assert sorted(tuple(r) for r in read_gate_result(spark, st2).collect()) == flat

    # the state side of a verify-shaped join: bucketed scan reports its
    # hashpartitioning, so with broadcast OFF the only Exchange feeds
    # the candidate side — grep the physical plan
    docs_tbl = next(iter(_bucket_specs(st2)))
    state_df = spark.table(docs_tbl)
    cand = spark.range(3).select(F.col("id").alias("doc_id"))
    with_conf = spark.conf
    old_thresh = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = with_conf.get("spark.sql.adaptive.enabled")
    try:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        with_conf.set("spark.sql.adaptive.enabled", "false")
        plan = (
            cand.join(state_df.hint("merge"), "doc_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        with_conf.set("spark.sql.adaptive.enabled", old_aqe)
    # exactly one exchange (the candidate side); the bucketed file scan
    # feeds the join through at most a sort, never an Exchange
    assert plan.count("Exchange") == 1
    assert "SortMergeJoin" in plan


def test_near_dup_gate_bucketed_restart_and_guards(spark, tmp_path):
    """Session-restart recovery (catalog lost, files kept) must
    re-register the FULL bucket spec incl. SORTED BY or the next
    append fails; bucket count is pinned; flat<->bucketed layout
    switches refuse instead of silently dropping state."""
    import pyspark.sql.functions as F
    import pytest

    from deepicedrain_spark.streaming.neardup import (
        _bucket_specs,
        near_dup_gate,
        read_gate_result,
    )

    docs = _gate_docs(spark)
    st = str(tmp_path / "gate_restart")
    gate = near_dup_gate(spark, st, threshold=0.8, workers=2, bucketed=4)
    gate(docs.filter(F.col("doc_id") < 4), 0)
    before = sorted(tuple(r) for r in read_gate_result(spark, st).collect())

    # simulate a session restart: the in-memory catalog loses the
    # tables but the files stay — drop metadata only
    for name in _bucket_specs(st):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    gate2 = near_dup_gate(spark, st, threshold=0.8, workers=2, bucketed=4)
    gate2(docs.filter(F.col("doc_id") >= 4), 1)  # append after recovery
    final = {d: (k, p) for d, k, p in (
        tuple(r) for r in read_gate_result(spark, st).collect()
    )}
    assert final[5] == (False, 0)  # cross-restart near-dup still caught
    assert all(final[d] == (k, p) for d, k, p in before)

    # bucket-count pinning
    with pytest.raises(ValueError, match="bucketed=4"):
        near_dup_gate(spark, st, bucketed=8)
    # a CORRUPT meta file must refuse, not silently re-pin to the
    # caller's B (ADVICE r11: the guard was bypassed exactly when the
    # metadata was damaged)
    import os

    from deepicedrain_spark.streaming.neardup import _buckets_meta_path

    meta = _buckets_meta_path(st)
    saved = open(meta).read()
    open(meta, "w").write("{not json")
    with pytest.raises(ValueError, match="unreadable"):
        near_dup_gate(spark, st, bucketed=4)
    open(meta, "w").write('{"wrong_key": 4}')
    with pytest.raises(ValueError, match="unreadable"):
        near_dup_gate(spark, st, bucketed=4)
    open(meta, "w").write(saved)
    assert os.path.isfile(meta)
    near_dup_gate(spark, st, bucketed=4)  # restored meta reopens fine
    # bucketed state refuses a flat reopen
    with pytest.raises(ValueError, match="BUCKETED layout"):
        near_dup_gate(spark, st, bucketed=0)
    # flat state refuses a bucketed reopen
    st2 = str(tmp_path / "gate_flat")
    flat = near_dup_gate(spark, st2, threshold=0.8, workers=2)
    flat(docs.filter(F.col("doc_id") < 4), 0)
    with pytest.raises(ValueError, match="FLAT docs/"):
        near_dup_gate(spark, st2, bucketed=4)


def test_near_dup_gate_replay_idempotent(spark, tmp_path):
    import pyspark.sql.functions as F

    from deepicedrain_spark.streaming.neardup import (
        _manifest_path,
        near_dup_gate,
        read_gate_result,
    )

    docs = _gate_docs(spark)
    state = str(tmp_path / "gate_replay")
    gate = near_dup_gate(spark, state, threshold=0.8, workers=2)
    gate(docs.filter(F.col("doc_id") < 4), 0)
    before = sorted(tuple(r) for r in read_gate_result(spark, state).collect())
    # committed batch replays are skipped outright
    gate(docs.filter(F.col("doc_id") < 4), 0)
    assert sorted(tuple(r) for r in read_gate_result(spark, state).collect()) == before

    # crash-shaped replay: state appended but the manifest commit was
    # lost — the batch reprocesses, and doc_id dedup keeps the result
    # identical (no phantom duplicates, no changed verdicts)
    import os

    os.remove(_manifest_path(state))
    gate(docs.filter(F.col("doc_id") < 4), 0)
    assert sorted(tuple(r) for r in read_gate_result(spark, state).collect()) == before

    gate(docs.filter(F.col("doc_id") >= 4), 1)
    final = {d: (k, p) for d, k, p in (
        tuple(r) for r in read_gate_result(spark, state).collect()
    )}
    assert final[5] == (False, 0)


# --- stateless semantic decontamination gate -----------------------------
def _gate_vectors(spark):
    """Seeded 8-d corpus plus a benchmark of perturbed corpus rows: a
    bench pair with equal vectors (round-6 cosine ties -> smaller id
    wins), rows hitting several bench vectors, and clean rows."""
    import random

    rnd = random.Random(7)
    corpus = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    bench = [(100 + i, [x + rnd.uniform(-0.1, 0.1) for x in corpus[i * 3][1]])
             for i in range(8)]
    bench.append((200, list(bench[0][1])))  # exact twin of bench 100
    schema = "vec_id long, embedding array<double>"
    return spark.createDataFrame(corpus, schema), spark.createDataFrame(bench, schema)


def _vector_stream(spark, corpus, d):
    """The corpus as two parquet files -> two micro-batches."""
    base = time.time() - 1000
    for b in range(2):
        _write_batch(spark, d, f"b{b}", corpus.filter(F.col("vec_id") % 2 == b).collect(),
                     base + 100 * b, "vec_id long, embedding array<double>",
                     ["vec_id", "embedding"])
    return (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )


def test_semantic_gate_stream_equals_batch(spark, tmp_path):
    from deepicedrain_spark.operators.dedup import (
        semantic_decontamination,
        semantic_decontamination_gate,
    )

    corpus, bench = _gate_vectors(spark)
    stream = _vector_stream(spark, corpus, str(tmp_path / "vec"))
    got = run_to_batch(semantic_decontamination_gate(stream, bench, threshold=0.9), "append")
    want = semantic_decontamination(corpus, bench, threshold=0.9)
    assert got.schema == want.schema
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == sorted(tuple(r) for r in want.collect())
    assert len(rows) < corpus.count()  # clean rows pass the gate
    assert any(n > 1 for _, n, _, _ in rows)
    assert rows[0][:3] == (0, 2, 100)  # round-6 tie with twin bench 200 -> 100


def _expression_count(df) -> int:
    """Expression nodes over every operator of the analyzed plan."""
    def n_expr(e):
        ch = e.children()
        return 1 + sum(n_expr(ch.apply(i)) for i in range(ch.size()))

    def n_plan(p):
        ex, ch = p.expressions(), p.children()
        return (sum(n_expr(ex.apply(i)) for i in range(ex.size()))
                + sum(n_plan(ch.apply(i)) for i in range(ch.size())))

    return n_plan(df._jdf.queryExecution().analyzed())


def test_semantic_gate_plan_does_not_grow_with_benchmark(spark, tmp_path):
    from deepicedrain_spark.operators.dedup import semantic_decontamination_gate

    corpus, _ = _gate_vectors(spark)
    stream = _vector_stream(spark, corpus, str(tmp_path / "vec"))
    counts = []
    for n in (5, 30):
        bench = corpus.filter(F.col("vec_id") < n)
        assert bench.count() == n
        counts.append(_expression_count(
            semantic_decontamination_gate(stream, bench, threshold=0.9)))
    assert counts[0] == counts[1] > 0


# --- stateful dedup --------------------------------------------------------
def test_stateful_dedup_late_new_key_one_batch_per_file(spark, tmp_path):
    """Global dedup over three files: a row 10 h older than everything
    seen so far, carrying a new key, arrives in the THIRD file. A 60-min
    watermark's late-row filter lags one batch, so batch 3 would filter
    at 9:20 (batch 1's max 10:20 minus the delay) and drop the row. It
    is still emitted; the output is batch DISTINCT; and one micro-batch
    runs per file (no extra no-data batch)."""
    from deepicedrain_spark.streaming.windows import STATE_CONF, pinned_conf, stateful_dedup

    d = str(tmp_path / "dd")
    base = time.time() - 1000
    cols = ["user_id", "event_type", F.timestamp_micros("t_us").alias("event_time")]
    schema = "user_id long, event_type string, t_us long"
    _write_batch(spark, d, "b1", [(1, "click", _ts(600)), (2, "view", _ts(610)),
                                  (1, "click", _ts(620))], base, schema, cols)
    _write_batch(spark, d, "b2", [(2, "view", _ts(700)), (1, "view", _ts(705))],
                 base + 100, schema, cols)
    _write_batch(spark, d, "b3", [(3, "click", _ts(10)), (1, "click", _ts(710))],
                 base + 200, schema, cols)
    stream = (
        spark.readStream.schema("user_id long, event_type string, event_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    name = "dedup_three_files"
    with pinned_conf(spark, STATE_CONF):
        q = (
            stateful_dedup(stream, ["user_id", "event_type"])
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = sorted((r["user_id"], r["event_type"]) for r in spark.table(name).collect())
    want = sorted(
        (r["user_id"], r["event_type"])
        for r in spark.read.parquet(d + "/*").select("user_id", "event_type").distinct().collect()
    )
    assert got == want == [(1, "click"), (1, "view"), (2, "view"), (3, "click")]
    assert len(q.recentProgress) == 3
