"""Measurement from outside the program: spans around calls into the
repo's modules, Spark's own status stores, and streaming progress.

Nothing here edits the program. A traced run wraps each public function
of the modules in ``spec.TRACED_MODULES`` (and ``synth_once``) in a span
and rebinds every module-level reference to it, so calls made through
``from x import f`` bindings are seen too. Spark jobs and SQL
executions are read back from the AppStatusStore and SQLAppStatusStore
after the timed pass and attributed, by submission time, to the
innermost span open at that moment.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import re
import statistics
import sys
import time
import types
from collections import defaultdict

PKG = "deepicedrain_spark"


# --------------------------------------------------------------------------
# /tmp redirection
# --------------------------------------------------------------------------
def _retarget_code(code: types.CodeType, old: str, new: str) -> types.CodeType:
    consts = tuple(
        new + c[len(old):] if isinstance(c, str) and c.startswith(old)
        else _retarget_code(c, old, new) if isinstance(c, types.CodeType)
        else c
        for c in code.co_consts
    )
    return code.replace(co_consts=consts) if consts != code.co_consts else code


def redirect_tmp(root: str) -> list[str]:
    """Point the program's literal ``/tmp/...`` paths (scratch fixtures,
    stream staging dirs, sink tables) at ``root`` so a run writes only
    inside its own work directory. Only the string constants of the
    functions that hold such a path change; call it once the entry point
    has loaded the suites, and ``stray_tmp_paths`` after the pass to
    confirm no module loaded later still holds one. Returns the
    qualified names of the functions it changed."""
    old, new = "/tmp/", root.rstrip("/") + "/"
    changed = []
    for name, fn in _package_functions():
        code = _retarget_code(fn.__code__, old, new)
        if code is not fn.__code__:
            fn.__code__ = code
            changed.append(name)
    return changed


def stray_tmp_paths() -> list[str]:
    """Functions of the loaded package modules that still hold a literal
    ``/tmp/`` path."""
    return [name for name, fn in _package_functions()
            if _retarget_code(fn.__code__, "/tmp/", "\0") is not fn.__code__]


def _package_functions() -> list[tuple[str, types.FunctionType]]:
    """(qualified name, function) for every function defined in a loaded
    package module, looking through traced-run span wrappers."""
    return [(f"{mod.__name__}.{name}", inspect.unwrap(fn)) for mod in _package_modules()
            for name, fn in list(vars(mod).items())
            if inspect.isfunction(fn) and fn.__module__ == mod.__name__]


def _package_modules() -> list[types.ModuleType]:
    return [m for name, m in list(sys.modules.items())
            if m is not None and (name == PKG or name.startswith(PKG + "."))]


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------
class Tracer:
    """In-memory span recorder. A span is a dict with id, parent, layer,
    name, key, query, phase (build, plan or exec), start and end (epoch
    seconds). ``totals[key]`` sums the outermost calls per key, so a
    module calling itself is counted once."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.query: str | None = None
        self.phase: str | None = None
        self.totals: dict[str, list] = defaultdict(lambda: [0.0, 0])
        self._stack: list[int] = []
        self._depth: dict[str, int] = defaultdict(int)

    def open(self, layer: str, name: str, key: str | None = None) -> dict:
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "layer": layer, "name": name, "key": key, "query": self.query,
               "phase": self.phase, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if key is not None:
            self._depth[key] += 1
        return rec

    def close(self, rec: dict) -> None:
        rec["end"] = time.time()
        self._stack.pop()
        key = rec["key"]
        if key is not None:
            self._depth[key] -= 1
            if self._depth[key] == 0:
                tot = self.totals[key]
                tot[0] += rec["end"] - rec["start"]
                tot[1] += 1

    def wrap(self, fn, layer: str, key: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = self.open(layer, f"{fn.__module__}.{fn.__name__}", key)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(rec)

        return traced

    def install(self, groups) -> None:
        """Wrap the public functions of every module in ``groups``
        ((layer, package, modules) triples) plus ``suite_custom.synth_once``,
        then rebind every reference to them held by the package's modules."""
        wrapped: dict = {}
        for layer, pkg, mods in groups:
            for short in mods:
                mod = importlib.import_module(f"{pkg}.{short}")
                for name, obj in list(vars(mod).items()):
                    if (inspect.isfunction(obj) and obj.__module__ == mod.__name__
                            and not name.startswith("_")):
                        wrapped[obj] = self.wrap(obj, layer, _key(layer, short, name))
        custom = importlib.import_module(f"{PKG}.suite_custom")
        wrapped[custom.synth_once] = self.wrap(custom.synth_once, "fixtures", "fixtures.synth")
        for mod in _package_modules():
            for name, obj in list(vars(mod).items()):
                if isinstance(obj, types.FunctionType) and obj in wrapped:
                    setattr(mod, name, wrapped[obj])

    def innermost(self, t: float) -> dict | None:
        """The deepest span open at epoch time ``t``."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best


def _key(layer: str, module: str, fn: str) -> str:
    if layer == "io":
        return f"io.{fn}"
    if layer == "sources":
        return "sources.read" if fn.startswith("read") else "sources.write"
    if layer == "fixtures":
        return "fixtures.synth"
    return f"{layer}.{module}"


# --------------------------------------------------------------------------
# streaming figures
# --------------------------------------------------------------------------
def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) of the highest order statistic that still has
    ``beyond`` samples above it; None with fewer than beyond+1 samples."""
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    idx = n - 1 - beyond
    return 100.0 * (idx + 1) / n, ordered[idx]


def stream_summary(batches: list[dict]) -> dict:
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    rows = sum(b["input_rows"] for b in batches)
    out = {"batches": len(batches), "input_rows": rows}
    if trig:
        out["batch_ms_p50"] = statistics.median(trig)
        tail = tail_percentile(trig)
        out["batch_ms_tail"] = tail[1] if tail else max(trig)
        out["tail_percentile"] = tail[0] if tail else 100.0
        out["rows_per_s"] = rows / (sum(trig) / 1000.0) if sum(trig) else 0.0
    return out


# --------------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------------
_SIZE = re.compile(r"([\d.]+)\s+(B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
PYTHON_SENT = "data sent to Python workers"


def _mapper(spark):
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    return mapper


def read_jobs_and_stages(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and (latest attempt of) all stages in the AppStatusStore."""
    mapper = _mapper(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    empty = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, empty, None)))
    by_id: dict[int, dict] = {}
    for s in stages:
        prev = by_id.get(s["stageId"])
        if prev is None or s["attemptId"] > prev["attemptId"]:
            by_id[s["stageId"]] = s
    return jobs, by_id


def read_sql_executions(spark) -> list[dict]:
    """Per SQL execution: submission time, Exchange/BroadcastExchange node
    counts and bytes sent to Python workers (the figures tools/skew.py
    reads from the same store)."""
    mapper = _mapper(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        eid = e.executionId()
        nodes = json.loads(mapper.writeValueAsString(store.planGraph(eid).allNodes()))
        names = [n["name"] for n in nodes]
        py_ids = [m["accumulatorId"] for n in nodes for m in n.get("metrics", [])
                  if m["name"] == PYTHON_SENT]
        py_bytes = 0.0
        if py_ids:
            values = json.loads(mapper.writeValueAsString(store.executionMetrics(eid)))
            for acc in py_ids:
                m = _SIZE.search(values.get(str(acc), ""))
                if m:
                    py_bytes += float(m.group(1)) * _UNITS[m.group(2)]
        out.append({
            "execution_id": eid,
            "submitted": e.submissionTime() / 1000.0,
            "exchanges": names.count("Exchange"),
            "broadcasts": names.count("BroadcastExchange"),
            "python_bytes_sent": py_bytes,
        })
    return out


def stage_owners(jobs: list[dict]) -> dict[int, int]:
    """stage id -> the first job that lists it. A later job that reuses a
    shuffle lists the same stage again (skipped), so stage figures are
    counted for the owning job only."""
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    return owner


def job_counters(jobs: list[dict], stages: dict[int, dict], owner: dict[int, int]) -> dict:
    """exec.* counters summed over ``jobs`` (executed stages only)."""
    c = defaultdict(float)
    for j in jobs:
        c["exec.jobs"] += 1
        if "checkpoint" in (j.get("name") or "").lower():
            c["exec.fence_jobs"] += 1
            if j.get("completionTime") and j.get("submissionTime"):
                c["exec.fence_s"] += (j["completionTime"] - j["submissionTime"]) / 1000.0
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if (owner.get(sid) != j["jobId"] or s is None
                    or s["status"] not in ("COMPLETE", "FAILED")):
                continue
            c["exec.stages"] += 1
            c["exec.tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            c["exec.failed_tasks"] += s["numFailedTasks"]
            c["exec.task_busy_s"] += s["executorRunTime"] / 1000.0
            c["exec.task_cpu_s"] += s["executorCpuTime"] / 1e9
            c["exec.shuffle_write_bytes"] += s["shuffleWriteBytes"]
            c["exec.shuffle_read_bytes"] += s["shuffleReadBytes"]
            c["exec.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            c["exec.input_bytes"] += s["inputBytes"]
            c["exec.output_bytes"] += s["outputBytes"]
    return c
