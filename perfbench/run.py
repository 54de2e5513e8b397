"""Benchmark entry point.

    python3 perfbench/run.py --workload icesat --seed 1 --seconds 20 --trace 0

Stages the seed's inputs (perfbench/gen.py) under ``.bench_work/`` in
the checkout, clears the program's run-mutable scratch state, then runs
one fresh worker process (perfbench/worker.py), which sets up, runs
every query of the workload once and checks the results against their
DuckDB oracles. A run always makes exactly one timed pass, so
``--seconds`` does not change what it measures (``BENCHMARK.json`` sets
it to about the length of that pass). ``--trace 1`` makes one untraced
and one traced pass, prints the per-layer metrics and writes the trace
to ``.bench_work/traces/``.

Prints human-readable lines, then as the last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. Exits 2 without
a result when the program's sources are not beside ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen
import layers
import spec

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170.0
PROGRAM_FILES = ("__spark_entry__.py", "deepicedrain_spark/__init__.py", "tools/check.py")


def worker_env() -> dict:
    env = dict(os.environ)
    dirs = {k: os.path.join(WORK, k) for k in ("spark-local", "pytmp", "jvmtmp")}
    for d in dirs.values():  # emptied: a killed JVM leaves its block files behind
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(spec.CORES),
        SPARK_DRIVER_MEMORY=spec.DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        TMPDIR=dirs["pytmp"],
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={dirs['jvmtmp']} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "pyspark-shell",
        ]),
    )
    return env


def clear_run_state(tmp_root: str) -> None:
    """Remove the program's run-mutable scratch state (stream staging,
    sink and upsert tables, checkpoints, scratch outputs) and keep the
    write-once ``synth_once`` fixtures (a path with an ``.ok`` sidecar,
    or a directory holding one)."""
    if not os.path.isdir(tmp_root):
        return
    for name in os.listdir(tmp_root):
        path = os.path.join(tmp_root, name)
        fixture = name.startswith("spark_graft_") and ".tmp." not in name and (
            name.endswith(".ok") or os.path.exists(path + ".ok")
            or (os.path.isdir(path) and any(f.endswith(".ok") for f in os.listdir(path)))
        )
        if fixture:
            continue
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.unlink(path)


def fixtures_written_since(tmp_root: str, t: float) -> bool:
    """True when a ``synth_once`` fixture (its ``.ok`` sidecar) under
    ``tmp_root`` was written at or after epoch time ``t``."""
    for base, _dirs, files in os.walk(tmp_root):
        if any(f.endswith(".ok") and os.path.getmtime(os.path.join(base, f)) >= t
               for f in files):
            return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (the Spark
    JVM and Python workers) and wait until all of it has ended."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"processes of group {proc.pid} did not end")


def run_worker(args, data_dir: str, trace: int, tag: str, deadline: float) -> dict:
    out = os.path.join(WORK, "run", f"{tag}.json")
    log = os.path.join(WORK, "run", f"{tag}.log")
    if os.path.exists(out):
        os.unlink(out)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--data", data_dir, "--work", WORK,
           "--seed", str(args.seed), "--trace", str(trace), "--out", out]
    with open(log, "w") as fh:
        spawned = time.time()
        proc = subprocess.Popen(cmd + ["--spawned", repr(spawned)], cwd=os.path.join(WORK, "run"),
                                env=worker_env(), stdout=fh, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc)
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker {tag} {'timed out' if rc is None else f'exited {rc}'}; "
                           f"log {log}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def summarize(workload: str, seed: int, manifest: dict, timed: dict,
              traced: dict | None) -> tuple[list[str], dict]:
    """Human-readable lines and the result object for one run. Untraced
    runs report the end-to-end metrics of the timed pass; traced runs
    report the per-layer metrics of the traced pass."""
    runs = [timed] + ([traced] if traced else [])
    attempted = sum(len(r["queries"]) for r in runs)
    failed = sum(1 for r in runs for q in r["queries"] if q["error"])
    stream = layers.stream_summary((traced or timed)["batches"])
    rows = sum(t["rows"] for t in manifest["tables"].values())
    steal = timed.get("cpu_steal_frac")
    lines = [f"perfbench workload={workload} seed={seed}"
             f" queries={len(spec.WORKLOADS[workload])} input_rows={rows}"
             f" cores={spec.CORES} heap={spec.DRIVER_MEMORY}"
             f" loop=closed_one_client"
             f" cpu_steal={'n/a' if steal is None else f'{steal:.3f}'}"]
    for q in (traced or timed)["queries"]:
        lines.append(f"  {q['query']:<36} build {q.get('build_s', 0):7.3f} s"
                     f"  sink {q.get('sink_s', 0):7.3f} s  {'FAILED' if q['error'] else 'ok'}")
    lines += [f"{name} {timed[name]:.4f} {unit}" for name, unit in spec.END_TO_END.items()]
    lines.append(f"peak_rss_mb {timed['peak_rss_mb']:.1f} MB")
    lines.append(f"failed_frac {failed / attempted:.4f} ratio ({failed} of {attempted} queries)")
    if stream["batches"]:
        lines += [
            f"streaming.batch_ms_p50 {stream['batch_ms_p50']:.1f} ms",
            f"streaming.batch_ms_tail {stream['batch_ms_tail']:.1f} ms"
            f" (p{stream['tail_percentile']:.1f} of {stream['batches']} batches)",
            f"streaming.rows_per_s {stream['rows_per_s']:.1f} 1/s",
        ]
    if traced:
        values = per_layer_values(traced, timed, stream, failed / attempted)
        metrics = {k: {"value": values.get(k, 0), "unit": u} for k, u in spec.PER_LAYER.items()}
    else:
        metrics = {k: {"value": timed[k], "unit": u} for k, u in spec.END_TO_END.items()}
    return lines, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                   "metrics": metrics}


_DURATIONS = {"trigger": "triggerExecution", "add_batch": "addBatch",
              "query_planning": "queryPlanning", "get_batch": "getBatch",
              "wal_commit": "walCommit", "commit_offsets": "commitOffsets"}


def per_layer_values(traced: dict, untraced: dict, stream: dict, failed_frac: float) -> dict:
    values = dict(traced["trace"]["totals"])
    values["peak_rss_mb"] = traced["peak_rss_mb"]
    values["failed_frac"] = failed_frac
    values["trace.overhead_s"] = traced["wall_s"] - untraced["wall_s"]
    for key in ("batch_ms_p50", "batch_ms_tail", "rows_per_s"):
        values[f"streaming.{key}"] = stream.get(key, 0.0)
    batches = traced["batches"]
    for key, camel in _DURATIONS.items():
        values[f"streaming.{key}_ms"] = sum(b["duration_ms"].get(camel, 0) for b in batches)
    values["streaming.batches"] = len(batches)
    for key in ("input_rows", "state_rows_total", "state_rows_updated", "state_memory_bytes"):
        values[f"streaming.{key}"] = sum(b[key] for b in batches)
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    if args.workload not in spec.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(spec.WORKLOADS)}",
              file=sys.stderr)
        return 2

    deadline = t_start + DEADLINE_S
    os.makedirs(os.path.join(WORK, "run"), exist_ok=True)
    data_dir = os.path.join(WORK, "data")
    manifest = gen.stage(data_dir, args.seed, spec.ROWS)
    tmp_root = os.path.join(WORK, "tmp")

    clear_run_state(tmp_root)
    started = time.time()
    timed = run_worker(args, data_dir, 0, f"{args.workload}-timed", deadline)
    # A pass that wrote the write-once fixtures (the first of a workload in
    # a checkout) paid a one-time cost: it is not a sample, so it is run again,
    # and the deadline moves by its length (a checkout's first run may be long).
    if fixtures_written_since(tmp_root, started):
        deadline += time.time() - started
        clear_run_state(tmp_root)
        timed = run_worker(args, data_dir, 0, f"{args.workload}-timed", deadline)
    traced = None
    if args.trace:
        clear_run_state(tmp_root)
        traced = run_worker(args, data_dir, 1, f"{args.workload}-traced", deadline)

    for r in [timed] + ([traced] if traced else []):
        for q in r["queries"]:
            if q["error"]:
                print(f"FAILED {q['query']}: {q['error'].splitlines()[0]}", file=sys.stderr)
    lines, result = summarize(args.workload, args.seed, manifest, timed, traced)
    if traced:
        path = write_trace(args, manifest, traced, timed, result)
        lines.append(f"trace {os.path.relpath(path, ROOT)}")
    print("\n".join(lines))
    print(json.dumps(result, separators=(",", ":")))
    return 0


def source_digest() -> str:
    """sha256 over the program's Python sources (the checkout is not a
    git repository, so this stands in for the commit id)."""
    import hashlib

    dig = hashlib.sha256()
    for base, _dirs, files in sorted(os.walk(os.path.join(ROOT, "deepicedrain_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    dig.update(f.encode() + fh.read())
    return dig.hexdigest()


def write_trace(args, manifest: dict, traced: dict, untraced: dict, result: dict) -> str:
    git = None
    try:
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except OSError:
        pass
    trace = {
        "workload": args.workload,
        "seed": args.seed,
        "git_sha": git,
        "source_sha256": source_digest(),
        "cores": spec.CORES,
        "driver_memory": spec.DRIVER_MEMORY,
        "input_tables": manifest["tables"],
        "wall_s": {"traced": traced["wall_s"], "untraced": untraced["wall_s"]},
        "overhead_s": traced["wall_s"] - untraced["wall_s"],
        "cpu_steal_frac": {"traced": traced.get("cpu_steal_frac"),
                           "untraced": untraced.get("cpu_steal_frac")},
        "queries": traced["queries"],
        "per_query": traced["trace"]["per_query"],
        "per_workload": {k: v["value"] for k, v in result["metrics"].items()},
        "stream": layers.stream_summary(traced["batches"]),
        "batches": traced["batches"],
        "spans": traced["trace"]["spans"],
        "jobs": traced["trace"]["jobs"],
        "unattributed_jobs": traced["trace"]["unattributed_jobs"],
    }
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(trace, fh, indent=1)
    return path


if __name__ == "__main__":
    sys.exit(main())
