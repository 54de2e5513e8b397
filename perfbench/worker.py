"""One fresh benchmark process.

Sets up (imports, SparkSession, input staging check, one warm-up job),
points the program's literal ``/tmp/`` scratch paths into the work
directory, runs every query of one workload once, in order, into a
``noop`` sink, then checks each result against its DuckDB oracle with
``tools/check.py``'s compare. With ``--trace 1`` the program's modules
are wrapped in spans and Spark's status stores are read after the pass.
Figures go to ``--out`` as JSON. ``run.py`` starts this; it is not meant
to be run by hand.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def warm_up(spark) -> None:
    """Fixed JVM warm-up: codegen, a shuffle, a join and a parquet-free
    aggregate on generated rows. It reads none of the workload's tables,
    so no program memo is filled by it."""
    from pyspark.sql import functions as F

    a = spark.range(200_000).select((F.col("id") % 97).alias("k"), (F.col("id") * 3).alias("v"))
    b = spark.range(97).select(F.col("id").alias("k"), (F.col("id") % 5).alias("g"))
    (a.groupBy("k").agg(F.sum("v").alias("s")).join(b, "k")
     .groupBy("g").agg(F.max("s")).write.format("noop").mode("overwrite").save())


class ProgressLog(StreamingQueryListener):
    """Collects every micro-batch's progress (durations, input rows,
    state-store figures) and counts started/terminated queries."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "query_id": str(p.id),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "duration_ms": dict(p.durationMs),
            "input_rows": p.numInputRows,
            "state_rows_total": sum(s.numRowsTotal for s in p.stateOperators),
            "state_rows_updated": sum(s.numRowsUpdated for s in p.stateOperators),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def drain(self, timeout_s: float = 15.0) -> None:
        """Wait until every started query's termination was delivered, so
        no batch of the pass is missing from ``batches``."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    return
            time.sleep(0.05)
        raise RuntimeError(f"streaming listener: {self.started} queries started, "
                           f"{self.terminated} terminations delivered")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies of all CPUs from /proc/stat, or None where
    there is no such file."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(v) for v in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return fields[7], sum(fields)


def steal_frac(before, after) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: a slow pass on a busy host shows here."""
    if before is None or after is None or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def load_check_module():
    """tools/check.py, loaded by path: its compare rules are the ones the
    repo's oracle harness applies."""
    spec = importlib.util.spec_from_file_location(
        "repo_tools_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_pass(spark, qs, names, data_dir, tracer):
    """Each query once: build (the registered fn), then the noop sink;
    traced, also plan (``executedPlan()``) in between, each phase in its
    own span. Returns (records, held frames, t_first, t_last)."""
    records, held = [], {}
    t_first = time.time()
    for name in names:
        rec = {"query": name, "error": None}
        t0 = time.time()
        try:
            if tracer is None:
                df = qs[name](spark, data_dir)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
                rec.update(build_s=t1 - t0, sink_s=time.time() - t1)
            else:
                tracer.query = name
                df = _phase(tracer, "build", "suite", name, lambda: qs[name](spark, data_dir), rec)
                _phase(tracer, "plan", "plan", name,
                       lambda: df._jdf.queryExecution().executedPlan(), rec)
                _phase(tracer, "exec", "exec", name,
                       lambda: df.write.format("noop").mode("overwrite").save(), rec)
            held[name] = df
        except Exception as e:  # noqa: BLE001 - a failing query is counted, the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"[:2000]
        finally:
            if tracer is not None:
                tracer.query = tracer.phase = None
        rec["wall_s"] = time.time() - t0
        records.append(rec)
    return records, held, t_first, time.time()


def _phase(tracer, phase: str, layer: str, name: str, fn, rec: dict):
    """Run ``fn`` in a top-level span of ``phase``; record its seconds."""
    tracer.phase = phase
    span = tracer.open(layer, f"{name}.{phase}")
    try:
        return fn()
    finally:
        tracer.close(span)
        key = {"build": "build_s", "plan": "plan_s", "exec": "sink_s"}[phase]
        rec[key] = span["end"] - span["start"]


def check_results(spark, held, oracles, data_dir, records, threads: int) -> None:
    """Compare each held result with its oracle (tools/check.py rules:
    row count, column names, Arrow types, exact values)."""
    check = load_check_module()
    con = check.duck_connection(data_dir)
    con.execute(f"SET threads TO {threads}")  # Spark is idle by now
    for rec in records:
        name = rec["query"]
        if rec["error"] is not None:
            continue
        t0 = time.time()
        try:
            ok, msg, n_rows = check.compare_query(
                spark, con, lambda _s, _d, df=held[name]: df, oracles[name], data_dir)
        except Exception as e:  # noqa: BLE001 - an unreadable result is a failed check
            ok, msg, n_rows = False, f"check error {type(e).__name__}: {e}"[:2000], 0
        rec["rows"] = n_rows
        rec["check_s"] = time.time() - t0
        if not ok:
            rec["error"] = f"oracle mismatch: {msg}"[:2000]


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def trace_counters(spark, tracer, batches, wall_s, cores) -> dict:
    """Per-query and per-workload counters from the status stores, the
    wrapped-call totals and the listener's batches."""
    from layers import job_counters, read_jobs_and_stages, read_sql_executions, stage_owners

    jobs, stages = read_jobs_and_stages(spark)
    owner = stage_owners(jobs)
    by_query = defaultdict(list)
    build_jobs = defaultdict(int)
    for j in jobs:
        if not j.get("submissionTime"):
            continue
        span = tracer.innermost(j["submissionTime"] / 1000.0)
        if span is None or span["query"] is None:
            continue
        j["span"] = span["id"]
        by_query[span["query"]].append(j)
        if span["phase"] == "build":
            build_jobs[span["query"]] += 1
    sql = defaultdict(lambda: defaultdict(float))
    for e in read_sql_executions(spark):
        span = tracer.innermost(e["submitted"])
        if span is None or span["query"] is None:
            continue
        for k in ("exchanges", "broadcasts", "python_bytes_sent"):
            sql[span["query"]][f"exec.{k}"] += e[k]
    stream = defaultdict(list)
    for b in batches:
        span = tracer.innermost(_epoch(b["timestamp"]))
        stream[span["query"] if span else None].append(b)

    per_query = {}
    for q in {s["query"] for s in tracer.spans if s["query"]}:
        c = dict(job_counters(by_query[q], stages, owner))
        c.update(sql[q])
        c["suite.build_jobs"] = build_jobs[q]
        for phase, key in (("build", "suite.build_s"), ("plan", "plan.plan_s"),
                           ("exec", "exec.sink_s")):
            c[key] = sum(s["end"] - s["start"] for s in tracer.spans
                         if s["query"] == q and s["phase"] == phase and s["parent"] is None)
        c["streaming.batches"] = len(stream[q])
        per_query[q] = c
    total = defaultdict(float)
    for c in per_query.values():
        for k, v in c.items():
            total[k] += v
    total["exec.core_util"] = total["exec.task_busy_s"] / (wall_s * cores) if wall_s else 0.0
    for key, (secs, calls) in tracer.totals.items():
        total[f"{key}_s"] = secs
        total[f"{key}_calls"] = calls
    keep = [j for js in by_query.values() for j in js]
    return {
        "per_query": per_query,
        "totals": dict(total),
        "jobs": [{k: j.get(k) for k in ("jobId", "name", "submissionTime", "completionTime",
                                        "stageIds", "span")} for j in keep],
        "unattributed_jobs": len(jobs) - len(keep),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    marks = {"start": time.time()}
    sys.path.insert(0, ROOT)
    import gen
    import layers
    import spec

    import __spark_entry__ as entry
    from deepicedrain_spark.session import get_spark

    redirected = layers.redirect_tmp(os.path.join(args.work, "tmp"))
    marks["imports"] = time.time()
    spark = get_spark("perfbench", cpus=spec.CORES)
    spark.sparkContext.setLogLevel("ERROR")
    marks["session"] = time.time()
    if not gen.is_fresh(args.data, args.seed, spec.ROWS):
        raise SystemExit(f"inputs at {args.data} are not the staged seed {args.seed}")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    marks["staging_check"] = time.time()
    warm_up(spark)
    marks["warm_up"] = time.time()
    progress = ProgressLog()
    spark.streams.addListener(progress)
    tracer = None
    if args.trace:
        tracer = layers.Tracer()
        tracer.install(spec.TRACED_MODULES)

    qs, oracles = entry.queries(), entry.oracle_sql()
    names = spec.WORKLOADS[args.workload]
    ticks = cpu_ticks()
    records, held, t_first, t_last = run_pass(spark, qs, names, args.data, tracer)
    steal = steal_frac(ticks, cpu_ticks())
    rss = peak_rss_mb(jvm_pid)
    progress.drain()
    batches = list(progress.batches)
    stray = layers.stray_tmp_paths()
    if stray:
        raise SystemExit(f"program functions loaded during the pass write to /tmp: {stray}")
    t_check = time.time()
    check_results(spark, held, oracles, args.data, records, spec.CORES)
    check_s = time.time() - t_check

    prev, setup_phases = args.spawned, {}
    for phase, t in marks.items():
        setup_phases[phase] = t - prev
        prev = t
    out = {
        "setup_s": t_first - args.spawned,
        "setup_phases_s": setup_phases,
        "wall_s": t_last - t_first,
        "peak_rss_mb": rss,
        "cpu_steal_frac": steal,
        "check_s": check_s,
        "redirected_tmp": redirected,
        "queries": records,
        "batches": batches,
    }
    if tracer is not None:
        out["trace"] = trace_counters(spark, tracer, batches, out["wall_s"], spec.CORES)
        out["trace"]["spans"] = tracer.spans
    with open(args.out, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
    sys.stdout.flush()
    sys.stderr.flush()
    # Skip the orderly SparkContext shutdown: run.py kills the worker's
    # process group (JVM and Python workers) and empties Spark's dirs.
    os._exit(0)
