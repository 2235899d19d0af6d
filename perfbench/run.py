"""Replay benchmark: one command, seeded workloads, oracle-checked outputs.

Usage (from the root of a checkout of the repository):

    python3 perfbench/run.py --workload backfill_json --seed 1 --seconds 12 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
is the separate traced run that reports the per-layer metrics (see
README.md).  The last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it is the run record (decisions, host diagnostics, per-operation numbers).

Everything the run writes goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"  # local mode: the driver heap is the executor heap too


def _program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(ROOT, "logicaldecoding_spark",
                                            "__init__.py")))


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(tmp: str, trace: bool):
    from logicaldecoding_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    return get_spark("perfbench", cores=_cores(), extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def hi_percentile(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 11 samples."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def layer_metrics(tracer, snap, out, steal_s: float) -> dict:
    """Per-layer metrics of the traced operations (median over them)."""
    from tracing import group_metrics
    from workloads import LEAVES

    def groups(spans):
        return {s["group"] for s in spans}

    def dur(spans):
        return sum(s["end"] - s["start"] for s in spans)

    per_op = []
    for root in out.traced_roots:
        spans = tracer.subtree(root)
        by = {}
        for s in spans:
            by.setdefault(s["name"], []).append(s)

        def named(n):
            return by.get(n, [])

        def deep(ss):  # the spans and everything below them
            return [x for s in ss for x in tracer.subtree(s)]

        every = group_metrics(snap, groups(spans))
        merge_deep = group_metrics(snap, groups(deep(named("merge"))))
        merge_ids = {s["id"] for s in named("merge")}
        join_w = group_metrics(snap, groups(
            [s for s in named("table.write") if s["parent"] in merge_ids]))
        rows = sum(s["info"].get("rows", 0) for s in named("table.write"))
        m = {
            "batches.plan_s": dur(named("batches.plan")),
            "batches.plan_jobs": group_metrics(
                snap, groups(named("batches.plan")))["jobs"],
            "replay.apply_self_s": sum(tracer.self_time(s)
                                       for s in named("replay.apply")),
            "replay.apply_jobs": group_metrics(
                snap, groups(named("replay.apply")))["jobs"],
            "replay.entry_self_s": sum(tracer.self_time(s)
                                       for s in named("replay")),
            "sources.py_rows_returned": every["py_rows_returned"],
            "sources.py_bytes_sent": every["py_bytes_sent"],
            "sources.py_bytes_returned": every["py_bytes_returned"],
            "sources.py_exec_s": every["py_exec_s"],
            "sources.py_init_s": every["py_init_s"],
            "merge.self_s": sum(tracer.self_time(s) for s in named("merge")),
            "merge.jobs": group_metrics(snap, groups(named("merge")))["jobs"],
            "merge.buckets_touched": sum(s["info"].get("buckets", 0)
                                         for s in named("merge")),
            "merge.join_tasks": (statistics.median(join_w["result_stage_tasks"])
                                 if join_w["result_stage_tasks"] else 0),
            "merge.shuffle_write_bytes": merge_deep["shuffle_write_bytes"],
            "merge.shuffle_read_bytes": merge_deep["shuffle_read_bytes"],
            "table.write_s": dur(named("table.write")),
            "table.files_written": sum(s["info"].get("files", 0)
                                       for s in named("table.write")),
            "table.rows_written": rows,
            "table.rows_written_per_event": rows / max(1, out.events_per_op),
            "table.commit_s": dur(named("table.commit")),
            "table.commit_jobs": group_metrics(
                snap, groups(named("table.commit")))["jobs"],
            "table.evolve_s": dur(named("table.evolve")),
            "mv.lake_build_s": dur(named("mv.lake_build")),
            "mv.create_s": dur(named("mv.create")),
            "mv.refresh_s": dur(named("mv.refresh")),
            "mv.refresh_jobs": group_metrics(
                snap, groups(deep(named("mv.refresh"))))["jobs"],
            "spark.jobs": every["jobs"],
            "spark.task_s": every["task_s"],
            "spark.cpu_s": every["cpu_s"],
            "spark.gc_s": every["gc_s"],
        }
        for leaf in LEAVES:
            sp = named(f"leaf.{leaf}")
            m[f"leaf.{leaf}_s"] = dur(sp)
            m[f"leaf.{leaf}_jobs"] = group_metrics(snap, groups(deep(sp)))["jobs"]
        per_op.append(m)
    res = {k: statistics.median(op[k] for op in per_op) for k in per_op[0]}

    reads = [s for s in tracer.spans if s["name"] == "table.retrieve"]
    res["table.retrieve_ms"] = statistics.median(
        (s["end"] - s["start"]) * 1e3 for s in reads) if reads else 0.0
    meta = out.table.metadata()
    res["table.manifest_entries"] = len(meta["snapshot"]["manifest"])
    mdir = os.path.join(out.table.path, "metadata")
    res["table.metadata_bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(mdir) for f in fs)
    res.update(stream_metrics(tracer, snap, out.tail))
    res["host.steal_s"] = steal_s
    res["trace.traced_wall_s"] = statistics.median(out.traced_walls)
    res["trace.untraced_wall_s"] = statistics.median(out.untraced_walls[1:])
    res["trace.overhead_s"] = (res["trace.traced_wall_s"]
                               - res["trace.untraced_wall_s"])
    return res


def stream_metrics(tracer, snap, tail) -> dict:
    """Per-layer metrics of the stream tail (0 on a workload without one);
    per micro-batch that applied data."""
    from tracing import group_metrics

    names = ("micro_batches", "files_per_batch", "add_batch_s",
             "trigger_overhead_s", "self_s", "jobs_per_batch")
    if not tail or not tail["micro_batches"]:
        return {f"stream.{n}": 0.0 for n in names}
    lo, hi = tail["span_range"]
    spans = tracer.spans[lo:hi]
    nb = tail["micro_batches"]
    inner = sum(s["end"] - s["start"] for s in spans
                if s["name"] in ("stream.plan", "stream.apply"))
    jobs = group_metrics(snap, {tail["run_id"]} | {s["group"] for s in spans},
                         exclude_jobs=set(tail["preload_jobs"]))["jobs"]
    add, trig = tail["add_batch_s"], tail["trigger_s"]
    return {
        "stream.micro_batches": nb,
        "stream.files_per_batch": tail["files"] / nb,
        "stream.add_batch_s": statistics.median(add),
        "stream.trigger_overhead_s": statistics.median(
            t - a for t, a in zip(trig, add)),
        "stream.self_s": (sum(add) - inner) / nb,
        "stream.jobs_per_batch": jobs / nb,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: no logicaldecoding_spark package and "
              f"__spark_entry__.py under {ROOT}", file=sys.stderr)
        return 2

    import host
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]

    # keep every file the run writes (Spark scratch, temp dirs, tables)
    # inside the checkout
    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)

    load_start, steal_start = host.loadavg(), host.steal_seconds()
    rss = host.RssSampler(os.getpid())
    rss.start()
    spark = tracer = None
    try:
        t0 = time.perf_counter()
        prep = wl.prepare(work, args.seed)  # cached by (seed, sizes)
        prepare_s = time.perf_counter() - t0
        c0, t0 = host.tree_cpu_seconds(os.getpid()), time.perf_counter()
        spark = start_session(tmp, bool(args.trace))
        t_session = time.perf_counter() - t0
        wl.warm(spark, prep)
        setup_wall_s = time.perf_counter() - t0
        setup_cpu_s = host.tree_cpu_seconds(os.getpid()) - c0
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        out = wl.measure(spark, prep, args.seconds, tracer)
        snap = None
        if tracer:
            from tracing import SparkRest

            snap = SparkRest(spark).snapshot()
        steal_s = host.steal_seconds() - steal_start
        lookup_hi, lookup_pct = hi_percentile(out.lookup_ms)
        # gated: the process tree's CPU seconds (they move little with
        # co-tenant CPU steal on a shared host), the lookup median and the
        # storage density; an operation's wall time spread by up to 0.31 of
        # its median from run to run there, above any allowed bound, so it
        # is recorded
        metrics = {
            "setup_s": (setup_cpu_s, "s"),
            "work_cpu_s": (statistics.median(out.untraced_cpu), "s"),
            "lookup_p50_ms": (statistics.median(out.lookup_ms), "ms"),
            "live_bytes_per_row": (workloads.live_bytes(out.table)
                                   / max(1, out.live_rows), "B/row"),
        }
        wall = {
            "work_s": out.work_s,
            "setup_wall_s": setup_wall_s,
            "lookup_hi_ms": lookup_hi,
            "peak_rss_mb": rss.peak / 2**20,
        }
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "cores": _cores(),
            "driver_memory": DRIVER_MEM,
            "prepare_s": round(prepare_s, 3),
            "session_start_s": round(t_session, 4),
            "ops": len(out.untraced_walls),
            "op_walls_s": [round(w, 4) for w in out.untraced_walls],
            "op_cpu_s": [round(c, 2) for c in out.untraced_cpu],
            "lookups": len(out.lookup_ms),
            "lookup_hi_percentile": round(lookup_pct, 2),
            "loadavg_start": load_start, "loadavg_end": host.loadavg(),
            "steal_s": round(steal_s, 3),
            "errors": out.errors,
            "metrics": {k: round(v, 6) for k, (v, _u) in metrics.items()},
            "wall": {k: round(v, 6) for k, v in wall.items()},
            **out.record,
        }
        if tracer:
            layers = layer_metrics(tracer, snap, out, steal_s)
            trace_dir = os.path.join(work, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            span_file = os.path.join(
                trace_dir, f"{args.workload}-s{args.seed}-{os.getpid()}.json")
            tracer.dump(span_file)
            record["spans"] = os.path.relpath(span_file, ROOT)
            record["unwrapped"] = sorted(out.unwrapped)
            for k in sorted(layers):
                print(f"layer {k:40s} {layers[k]:.6g}")
            units = {m["name"]: m["unit"] for m in _bench_spec()["per_layer"]}
            result_metrics = {k: {"value": layers[k], "unit": units[k]}
                              for k in units}
        else:
            result_metrics = {k: {"value": v, "unit": u}
                              for k, (v, u) in metrics.items()}
        print(json.dumps({"record": record}))
    finally:
        if spark is not None:
            stop_session(spark)
        rss.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    ok = out.failed == 0 and all(
        math.isfinite(m["value"]) for m in result_metrics.values())
    print(json.dumps({"correct": ok, "attempted": out.attempted,
                      "failed": out.failed, "metrics": result_metrics}))
    return 0 if ok else 1


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
