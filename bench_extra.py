"""Round-6 auxiliary benchmarks (bench.py is frozen for measurement).

Isolates the pieces the driver's bench times as single numbers, so the
optimization evidence in OPTIMIZATION_r06.md can cite per-stage costs:
 - mv_incremental_agg stage breakdown (lake build / MV create / refreshes)
 - per-query noop-sink timings (guide §1.4) for any queries() entry
 - retrieve() point-read latency on one lake table, cold and warm
Usage:
  python bench_extra.py mv [sf_dir]
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


def mv_breakdown(sf_dir: str) -> None:
    import __spark_entry__ as entry

    spark = _spark()
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()
    spark.sparkContext.setJobDescription("mv: lake build")
    t, cut, v_mid = entry._events_lake(spark, sf_dir)
    t_lake = time.time() - t0
    import tempfile

    from logicaldecoding_spark.operators.mv import MaterializedAggregate

    t1 = time.time()
    spark.sparkContext.setJobDescription("mv: create")
    mv = MaterializedAggregate.create(
        os.path.join(tempfile.mkdtemp(prefix="bx_mv_"), "mv"), t,
        ["event_type"],
        {"n_users": ("count", "*"), "sum_value": ("sum", "value"),
         "avg_value": ("avg", "value"), "min_value": ("min", "value"),
         "max_value": ("max", "value")},
        n_buckets=8,
    )
    t_create = time.time() - t1
    t2 = time.time()
    spark.sparkContext.setJobDescription("mv: refresh 1")
    mv.refresh(spark, to_version=v_mid)
    t_r1 = time.time() - t2
    t3 = time.time()
    spark.sparkContext.setJobDescription("mv: refresh 2")
    mv.refresh(spark)
    t_r2 = time.time() - t3
    t4 = time.time()
    spark.sparkContext.setJobDescription("mv: read")
    mv.read(spark).collect()
    t_read = time.time() - t4
    print({"lake_build": round(t_lake, 2), "mv_create": round(t_create, 2),
           "refresh1": round(t_r1, 2), "refresh2": round(t_r2, 2),
           "read": round(t_read, 2),
           "total": round(time.time() - t0, 2)})
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
    elif args and args[0] == "noop":
        noop(args[1:], sf)
    elif len(args) > 1 and args[0] == "lookup":
        argv = sys.argv[2:]  # <table> [--keys N]
        lookup(argv[0], int(argv[argv.index("--keys") + 1])
               if "--keys" in argv else 200)
    else:
        print(__doc__)
