"""spark-submit entry point for the CDC replay job (north_rule run mode).

Usage:
    spark-submit --master local[N] --driver-memory 48g \
        --py-files /tmp/logicaldecoding_spark.zip \
        bench_jobs/replay_submit.py --log LOG --table TABLE \
        [--parse-mode auto|native|proto|sidecar] [--n-buckets 64] [--salt 0] [--resume]

Prints one JSON line with wall seconds and throughput.  The package arrives
via --py-files (no repo-path assumption), exactly as it would on a cluster.

The job takes its session from ``getOrCreate()``, not ``get_spark``, so
pass the engine's generated-class cache size on the command line too:
``--conf spark.sql.codegen.cache.maxEntries=2048``.  It is a static conf,
read once when the JVM starts; Spark's default of 100 classes is smaller
than a replay's working set, so without it each replay recompiles them.
"""

from __future__ import annotations

import argparse
import json
import shutil
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--log", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--parse-mode", default="auto")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--n-data-batches", type=int, default=1)
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--shuffle-partitions", type=int, default=16)
    ap.add_argument("--arrow-batch", type=int, default=16384)
    ap.add_argument("--events", type=int, default=0, help="change-event count for ev/s")
    ap.add_argument("--merge-mode", default="cow")
    ap.add_argument("--compact-at-end", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--fresh", action="store_true", help="delete the table first")
    ap.add_argument("--warm-log", default=None, help="small log for a warmup replay")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(args.arrow_batch))
    spark.sparkContext.setLogLevel("WARN")

    from logicaldecoding_spark.plans.replay import replay

    if args.warm_log:
        shutil.rmtree(args.table + "_warm", ignore_errors=True)
        replay(spark, args.warm_log, args.table + "_warm",
               parse_mode=args.parse_mode, n_buckets=args.n_buckets)
    if args.fresh:
        shutil.rmtree(args.table, ignore_errors=True)

    t0 = time.time()
    run = replay(
        spark,
        args.log,
        args.table,
        parse_mode=args.parse_mode,
        n_buckets=args.n_buckets,
        n_data_batches=args.n_data_batches,
        salt_buckets=args.salt or None,
        resume=args.resume,
        merge_mode=args.merge_mode,
    )
    if args.compact_at_end:
        from logicaldecoding_spark.table.format import LakeTable

        LakeTable.load(args.table).compact(spark)
    wall = time.time() - t0
    out = {
        "wall_secs": round(wall, 3),
        "batches_applied": run["batches_applied"],
        "applied_upto_lsn": run["applied_upto_lsn"],
        "cores": spark.sparkContext.defaultParallelism,
        "parse_mode": args.parse_mode,
        "merge_mode": args.merge_mode,
    }
    if args.events:
        out["events"] = args.events
        out["events_per_sec"] = round(args.events / wall, 1)
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
