"""Round-6 auxiliary benchmarks (bench.py is frozen for measurement).

Isolates the pieces the driver's bench times as single numbers, so the
optimization evidence in OPTIMIZATION_r06.md can cite per-stage costs:
 - mv_incremental_agg stage breakdown (lake build / MV create / refreshes
   / read): wall, Spark jobs, process-tree CPU (JVM, Python workers,
   driver), generated classes compiled and JIT time per stage
 - the 12 timed leaves of perfbench's query_leaves workload, N passes,
   each leaf from cleared entry memos and cached frames: the same per-leaf
   numbers, and per-pass totals
 - per-query noop-sink timings (guide §1.4) for any queries() entry
 - retrieve() point-read latency on one lake table, cold and warm
Usage:
  python bench_extra.py mv [sf_dir]
  python bench_extra.py leaves [sf_dir] [--passes N]
  python bench_extra.py noop q1_pricing_summary dedup_minhash ... [--sf dir]
  python bench_extra.py lookup <table> [--keys N]
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _spark(cpus=None):
    from logicaldecoding_spark.session import get_spark

    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_spark(
        "bench_extra", cores=cpus,
        shuffle_partitions=max(8, min(16, 2 * cpus)),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "16384",
        },
    )


def _proc_stat(pid: int) -> list[int] | None:
    """utime, stime, cutime, cstime of one process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return [int(x) for x in fields[11:15]]


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_cpu() -> dict[str, float]:
    """CPU seconds so far of this process tree, split three ways: the
    driver (this process and its reaped children), the JVM (the ``java``
    child's own threads) and the Python workers (everything under the JVM,
    reaped workers included through their parents' cutime/cstime)."""
    from perfbench.host import _HZ, _children

    out = {"driver": 0, "jvm": 0, "py_workers": 0}
    root = os.getpid()
    out["driver"] += sum(_proc_stat(root) or ())
    for child in _children(root):
        st = _proc_stat(child)
        if st is None:
            continue
        if _comm(child) != "java":
            out["driver"] += sum(st)
            continue
        out["jvm"] += st[0] + st[1]
        out["py_workers"] += st[2] + st[3]
        todo = _children(child)
        while todo:
            pid = todo.pop()
            out["py_workers"] += sum(_proc_stat(pid) or ())
            todo += _children(pid)
    return {k: v / _HZ for k, v in out.items()}


def _jit_ms(spark) -> int:
    """Milliseconds the JVM's JIT compilers have spent so far."""
    mx = spark._jvm.java.lang.management.ManagementFactory
    return int(mx.getCompilationMXBean().getTotalCompilationTime())


def _print_stage(name: str, s: dict) -> None:
    print(f"{name:<20} wall {s['wall']:6.2f} s  jobs {s['jobs']:3d}  cpu s "
          f"jvm {s['jvm']:6.2f}  py_workers {s['py_workers']:6.2f}  "
          f"driver {s['driver']:6.2f}  compiles {s['compiles']:4d}  "
          f"jit {s['jit_ms']:6d} ms", flush=True)


def _stage(spark, name: str, fn, kind: str = "mv", totals=None):
    """Runs ``fn()`` in its own job group; prints its wall, Spark job count,
    process-tree CPU split, generated classes compiled (Janino, JVM-wide)
    and JIT milliseconds, adds them into ``totals`` if given, and returns
    ``fn``'s result."""
    from logicaldecoding_spark.session import codegen_compiles

    sc = spark.sparkContext
    group = f"{kind}-{name.replace(' ', '-')}"
    sc.setJobGroup(group, f"{kind}: {name}")
    cpu0, t0 = tree_cpu(), time.time()
    compiles0, jit0 = codegen_compiles(spark), _jit_ms(spark)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    stats = {"wall": time.time() - t0,
             "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
             "compiles": codegen_compiles(spark) - compiles0,
             "jit_ms": _jit_ms(spark) - jit0}
    stats.update((k, v - cpu0[k]) for k, v in tree_cpu().items())
    _print_stage(name, stats)
    if totals is not None:
        for k, v in stats.items():
            totals[k] = totals.get(k, 0) + v
    return out


def mv_breakdown(sf_dir: str) -> None:
    """The mv_incremental_agg leaf stage by stage: lake build, MV create,
    two refreshes and a read, each with its Spark jobs and CPU split."""
    import tempfile

    import __spark_entry__ as entry
    from logicaldecoding_spark.operators.mv import MaterializedAggregate

    spark = _spark()
    spark.sparkContext.setLogLevel("WARN")
    t, _cut, v_mid = _stage(spark, "lake build",
                            lambda: entry._events_lake(spark, sf_dir))
    mv = _stage(spark, "create", lambda: MaterializedAggregate.create(
        os.path.join(tempfile.mkdtemp(prefix="bx_mv_"), "mv"), t,
        ["event_type"],
        {"n_users": ("count", "*"), "sum_value": ("sum", "value"),
         "avg_value": ("avg", "value"), "min_value": ("min", "value"),
         "max_value": ("max", "value")},
        n_buckets=8,
    ))
    _stage(spark, "refresh 1", lambda: mv.refresh(spark, to_version=v_mid))
    _stage(spark, "refresh 2", lambda: mv.refresh(spark))
    _stage(spark, "read", lambda: mv.read(spark).collect())
    spark.stop()


def leaves(sf_dir: str, passes: int) -> None:
    """perfbench's 12 timed ``query_leaves`` leaves, ``passes`` times in one
    session, each leaf from cleared entry memos and cached frames as the
    benchmark runs them; prints every leaf's stage line and each pass's
    totals.  With a generated-class cache that holds the working set,
    passes after the first compile no classes."""
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import __spark_entry__ as entry
    from workloads import LEAVES, QueryLeaves

    spark = _spark()
    spark.sparkContext.setLogLevel("WARN")
    q = entry.queries()
    for i in range(passes):
        totals: dict = {}
        for name in LEAVES:
            QueryLeaves._reset(spark)
            _stage(spark, name, lambda n=name: q[n](spark, sf_dir).toPandas(),
                   kind=f"pass-{i}", totals=totals)
        _print_stage(f"pass {i} total", totals)
    spark.stop()


def noop(names: list[str], sf_dir: str) -> None:
    import __spark_entry__ as entry

    spark = _spark()
    spark.sparkContext.setLogLevel("WARN")
    q = entry.queries()
    for name in names:
        t0 = time.time()
        spark.sparkContext.setJobDescription(f"noop: {name}")
        q[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        print(name, round(time.time() - t0, 3))
    spark.stop()


def lookup(table: str, n_keys: int) -> None:
    """retrieve() p50/p90 over ``n_keys`` sampled live keys: each cold read
    on a freshly loaded handle, each warm read on one handle that has read
    every key once.  Every result is checked against a full table read."""
    import json
    import random
    import statistics

    from logicaldecoding_spark.table.format import LakeTable

    spark = _spark()
    spark.sparkContext.setLogLevel("WARN")
    pk = LakeTable.load(table).pk
    rows = {tuple(r[c] for c in pk): r.asDict()
            for r in LakeTable.load(table).read(spark).collect()}
    keys = random.Random(0).sample(sorted(rows), min(n_keys, len(rows)))
    wrong = 0

    def timed(handle, key):
        nonlocal wrong
        t0 = time.perf_counter()
        got = handle.retrieve(spark, key)
        ms = (time.perf_counter() - t0) * 1e3
        wrong += got is None or got.asDict() != rows[key]
        return ms

    def summary(ms):
        return {"p50_ms": round(statistics.median(ms), 3),
                "p90_ms": round(statistics.quantiles(ms, n=10)[-1], 3)}

    cold = [timed(LakeTable.load(table), k) for k in keys]
    warm_handle = LakeTable.load(table)
    for k in keys:
        warm_handle.retrieve(spark, k)
    warm = [timed(warm_handle, k) for k in keys]
    print(json.dumps({"keys": len(keys), "wrong": wrong,
                      "cold": summary(cold), "warm": summary(warm),
                      "retrieve_stats": warm_handle.retrieve_stats}))
    spark.stop()


if __name__ == "__main__":
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if args and args[0] == "mv":
        mv_breakdown(args[1] if len(args) > 1 else sf)
    elif args and args[0] == "leaves":
        argv = sys.argv[2:]  # [sf_dir] [--passes N]
        passes = 3
        if "--passes" in argv:
            i = argv.index("--passes")
            passes = int(argv[i + 1])
            del argv[i:i + 2]
        leaves(argv[0] if argv else sf, passes)
    elif args and args[0] == "noop":
        noop(args[1:], sf)
    elif len(args) > 1 and args[0] == "lookup":
        argv = sys.argv[2:]  # <table> [--keys N]
        lookup(argv[0], int(argv[argv.index("--keys") + 1])
               if "--keys" in argv else 200)
    else:
        print(__doc__)
