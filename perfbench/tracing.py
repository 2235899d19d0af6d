"""Traced runs: spans around the engine's public calls, one Spark job group
per span, and per-group Spark metrics from Spark's local monitoring REST API.

Wrappers are installed at the names the callers bind (a module attribute
for ``from x import f`` imports, the class attribute for methods) and
removed after each traced operation, so the untraced operations of the same
run execute the unpatched engine.  Spans are kept in memory and written out
when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import threading
import time
import urllib.request
from contextlib import contextmanager

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()  # per-thread span stack
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Record ``name`` as a span and run its Spark jobs in its own job
        group, restoring the thread's previous job group afterwards.  Spans
        nest per thread: a streaming query calls its batch function on its
        own thread, whose spans become roots there."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            sp = {"id": sid, "name": name,
                  "parent": parent["id"] if parent else None,
                  "group": f"perfbench-{sid}", "info": {}}
            self.spans.append(sp)
        stack.append(sp)
        prev = {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPS}
        self.sc.setJobGroup(sp["group"], name, False)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            for k, v in prev.items():
                self.sc.setLocalProperty(k, v)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper; ``on_result(info,
        result)`` may copy counts from the call's return value."""
        static = inspect.getattr_static(owner, attr)
        kind = type(static) if isinstance(static, (staticmethod, classmethod)) \
            else None
        orig = getattr(owner, attr) if kind is None else static.__func__
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp["info"], result)
                return result

        setattr(owner, attr, kind(wrapper) if kind else wrapper)
        self._patches.append((owner, attr, static))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, static = self._patches.pop()
            setattr(owner, attr, static)

    # -- span arithmetic ----------------------------------------------------
    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span below it (a child is always recorded
        after its parent)."""
        ids = {root["id"]}
        out = [root]
        for sp in self.spans[root["id"] + 1:]:
            if sp["parent"] in ids:
                ids.add(sp["id"])
                out.append(sp)
        return out

    def self_time(self, sp: dict) -> float:
        """Duration minus the part covered by direct child spans (children
        run on the caller's thread, so they never overlap)."""
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == sp["id"])
        return (sp["end"] - sp["start"]) - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# the engine's layer boundaries
# ---------------------------------------------------------------------------
def _merge_result(info: dict, result) -> None:
    if isinstance(result, dict):
        info["buckets"] = result.get("buckets", 0)


def _write_result(info: dict, result) -> None:
    info["files"] = len(result or [])
    info["rows"] = sum(int(f.get("rows") or 0) for f in (result or []))


def install_engine_wrappers(tracer: Tracer) -> list[str]:
    """Wrap each layer's public calls where its callers bind them; returns
    the boundaries the engine no longer has (their layers then read 0)."""
    import importlib

    import __spark_entry__ as entry
    from logicaldecoding_spark.operators.mv import MaterializedAggregate
    from logicaldecoding_spark.table.format import LakeTable

    # by module path: the package __init__ files re-export same-named
    # functions over their submodules (plans.replay is the function)
    replay_mod = importlib.import_module("logicaldecoding_spark.plans.replay")
    merge_mod = importlib.import_module("logicaldecoding_spark.operators.merge")
    stream_mod = importlib.import_module(
        "logicaldecoding_spark.streaming.stream_replay")
    boundaries = [
        (stream_mod, "plan_batches", "stream.plan", None),
        (stream_mod, "apply_plans", "stream.apply", None),
        (replay_mod, "plan_batches", "batches.plan", None),
        (replay_mod, "apply_plans", "replay.apply", None),
        (replay_mod, "merge_into", "merge", _merge_result),
        # the lake builders import merge_into from its module at call time
        (merge_mod, "merge_into", "merge", _merge_result),
        (LakeTable, "write_data_files", "table.write", _write_result),
        (LakeTable, "commit_data", "table.commit", None),
        (LakeTable, "evolve_schema", "table.evolve", None),
        (LakeTable, "retrieve", "table.retrieve", None),
        (MaterializedAggregate, "create", "mv.create", None),
        (MaterializedAggregate, "refresh", "mv.refresh", None),
        (entry, "_events_lake", "mv.lake_build", None),
    ]
    missing = []
    for owner, attr, name, on_result in boundaries:
        if hasattr(owner, attr):
            tracer.wrap(owner, attr, name, on_result)
        else:
            missing.append(f"{getattr(owner, '__name__', owner)}.{attr}")
    return missing


# ---------------------------------------------------------------------------
# Spark monitoring REST API (driver UI, enabled only in traced runs)
# ---------------------------------------------------------------------------
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0,
          "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """'1.2 MiB', '13,856', '945 ms' or the 'total (min, med, max ...)\\n
    <total> (...)' form -> a number in bytes, seconds or units."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class SparkRest:
    def __init__(self, spark):
        self.base = spark.sparkContext.uiWebUrl.rstrip("/") + "/api/v1"
        self.app = spark.sparkContext.applicationId

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/applications/{self.app}"
                                    f"{path}", timeout=30) as r:
            return json.load(r)

    def snapshot(self, settle_s: float = 10.0) -> dict:
        """Jobs, stages and SQL executions once the listener bus has caught
        up (no running job and an unchanged job count on two reads)."""
        deadline = time.monotonic() + settle_s
        prev = -1
        while True:
            jobs = self._get("/jobs")
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (done and len(jobs) == prev) or time.monotonic() > deadline:
                break
            prev = len(jobs)
            time.sleep(0.3)
        stages = self._get("/stages")
        sql = self._get("/sql?details=true&planDescription=false"
                        "&offset=0&length=1000000")
        return {"jobs": jobs, "stages": stages, "sql": sql}


_PY_NODE = re.compile(r"Python|Arrow|Pandas")


def group_metrics(snap: dict, groups: set[str],
                  exclude_jobs: frozenset = frozenset()) -> dict:
    """Spark work of the jobs whose job group is in ``groups``."""
    jobs = [j for j in snap["jobs"] if j.get("jobGroup") in groups
            and j["jobId"] not in exclude_jobs]
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    out = {"jobs": len(jobs), "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "py_rows_returned": 0.0, "py_bytes_sent": 0.0,
           "py_bytes_returned": 0.0, "py_exec_s": 0.0, "py_init_s": 0.0,
           "result_stage_tasks": []}
    for s in snap["stages"]:
        if s["stageId"] not in stage_ids or s["status"] == "SKIPPED":
            continue
        out["task_s"] += s["executorRunTime"] / 1e3
        out["cpu_s"] += s["executorCpuTime"] / 1e9
        out["gc_s"] += s["jvmGcTime"] / 1e3
        out["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        out["shuffle_read_bytes"] += s["shuffleReadBytes"]
    for j in jobs:
        if j["stageIds"]:
            last = max(j["stageIds"])
            tasks = [s["numTasks"] for s in snap["stages"]
                     if s["stageId"] == last and s["status"] != "SKIPPED"]
            out["result_stage_tasks"] += tasks[:1]
    names = {"number of output rows": "py_rows_returned",
             "data sent to Python workers": "py_bytes_sent",
             "data returned from Python workers": "py_bytes_returned",
             "time to run Python workers": "py_exec_s",
             "time to initialize Python workers": "py_init_s"}
    for ex in snap["sql"]:
        ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ex_jobs & job_ids:
            continue
        for node in ex.get("nodes", []):
            if not _PY_NODE.search(node["nodeName"]):
                continue
            for m in node.get("metrics", []):
                key = names.get(m["name"])
                if key:
                    out[key] += parse_sql_metric(m["value"])
    return out
