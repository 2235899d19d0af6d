"""Copy-on-write MERGE upsert into the lake table.

The distributed form of the reference subscriber's apply loop
(/root/reference/src/types/mod.rs:50-168): INSERT -> put, UPDATE -> put full
after-image, DELETE -> remove, lineage txid recorded per row (:67, :120).
One MERGE call applies one compacted batch (<=1 change row per key, from
operators/compaction.py):

    target (only touched buckets)  FULL OUTER JOIN  changes  ON pk
      source wins  iff change.lsn > target._last_lsn        (monotone guard)
      winning op D -> row dropped; I/U -> source row
      otherwise    -> target row kept

The monotone LSN guard is what makes the sink idempotent / exactly-once on
replay (SURVEY §2.9 T4): re-applying an already-applied batch compares
``lsn == _last_lsn`` -> target kept -> byte-identical rewrite, and the
snapshot offsets make it a no-op before even reaching here.

Scale notes:
* the wide change-set (full tuples incl. content) is consumed exactly ONCE
  by the MERGE join when the caller supplies ``touched`` buckets from a
  narrow source (the replay pipeline derives them from its cached slim
  pass) — no persist, no second materialization.  Standalone callers
  without ``touched`` fall back to one spill-safe persist serving both
  bucket discovery and the join;
* the join is keyed on the primary key; both sides are unique per key
  (target by construction, source post-compaction), so no key explosion and
  no join skew beyond hashing — AQE handles residual imbalance;
* bucket pruning bounds the target side to touched buckets only;
* output is repartitioned by bucket so each bucket writes a bounded number
  of files (COW granularity = bucket).
"""

from __future__ import annotations

import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import OP_DELETE
from ..session import conf_set
from ..table.format import LakeTable, bucket_expr


def merge_into(
    spark: SparkSession,
    table: LakeTable,
    compacted: DataFrame,
    applied_upto_lsn: int,
    batch_id: int,
    extra_metrics: dict | None = None,
    touched: list[int] | None = None,
    mode: str = "cow",
) -> dict:
    """Apply one compacted change batch; commit a new snapshot. Returns metrics.

    ``mode='mor'`` (merge-on-read) writes EXACTLY the compacted change set
    as delta files — upserts with full after-images, deletes as tombstone
    rows — without reading the target at all: per-batch write cost is
    O(changed keys), the faithful analog of the reference subscriber's
    HashMap upsert (/root/reference/src/types/mod.rs:64), where COW's is
    O(touched buckets).  Readers reconcile base+delta by per-key
    last-writer-wins (table/format.py read), and ``LakeTable.compact``
    folds deltas back into base files.  The LSN monotone guard is implicit:
    reconciliation picks the max ``_last_lsn`` version, so re-applied
    deltas (idempotent replay) collapse to the same state.

    ``touched`` (optional): the change-set's bucket ids, when the caller can
    compute them from a NARROW source — the replay pipeline derives them
    from its cached slim (pk-only) pass, so the wide compacted frame (full
    tuples incl. content) is consumed exactly ONCE by the MERGE join and
    never persisted.  Materializing it just to list buckets was the single
    worst 32-core phase (35.9s of a 58.7s replay: full-tuple parse +
    cache write, memory-bandwidth-bound).  Without ``touched`` the frame is
    spill-safe-persisted and buckets are discovered from it (standalone
    callers)."""
    t0 = time.time()
    pk = list(table.pk)
    schema = table.schema
    data_cols = [f.name for f in schema.fields if f.name not in pk]
    n_buckets = table.n_buckets

    phases: dict[str, float] = {}
    if mode == "mor":
        delta = compacted.select(
            *pk,
            *[F.col(c) for c in data_cols],
            F.col("lsn").alias("_last_lsn"),
            F.col("txid").alias("_last_txid"),
            F.col("op").alias("_op"),
        ).withColumn("_bucket", bucket_expr(n_buckets, tuple(pk)))
        # one delta file per touched bucket per batch
        delta = delta.repartition("_bucket")
        t2 = time.time()
        new_files = table.write_data_files(delta, spark, content="delta")
        phases["write"] = round(time.time() - t2, 3)
        rows = sum(f["rows"] for f in new_files)
        t3 = time.time()
        table.commit_data(
            new_files, set(), applied_upto_lsn, batch_id,
            {"rows_written": rows, "files_written": len(new_files),
             "merge_mode": "mor", "merge_secs": round(time.time() - t0, 3),
             **(extra_metrics or {})},
        )
        phases["commit"] = round(time.time() - t3, 3)
        return {
            "rows_written": rows,
            "buckets": len({f["bucket"] for f in new_files}),
            "secs": time.time() - t0,
            "phases": phases,
        }
    if mode != "cow":
        raise ValueError(f"unknown merge mode {mode!r}")

    changes = compacted.withColumn(
        "_bucket", bucket_expr(n_buckets, tuple(pk))
    )
    discover = touched is None
    if discover:
        changes = changes.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        t1 = time.time()
        if discover:
            touched = sorted(
                r["_bucket"] for r in changes.select("_bucket").distinct().collect()
            )
        else:
            touched = sorted(int(b) for b in touched)
        phases["discover"] = round(time.time() - t1, 3)
        if not touched:
            table.commit_data([], set(), applied_upto_lsn, batch_id,
                              {"events": 0, "note": "empty batch",
                               **(extra_metrics or {})})
            return {"rows_written": 0, "buckets": 0, "secs": time.time() - t0}

        # ONE wide shuffle, not two (guide §2.4): both sides repartition by
        # _bucket, and the join keys are (_bucket, *pk) — _bucket is a pure
        # function of pk computed identically on both sides, so the match
        # pairs are unchanged, while HashPartitioning(_bucket) satisfies the
        # join's clustering requirement and the OUTPUT stays partitioned by
        # _bucket: the old plan's second full-width exchange (repartition
        # of the merged result for the bucket-partitioned write) disappears.
        n_parts = max(len(touched), 1)
        # subset co-partitioning must be accepted for the shared exchange
        # to survive: with the default (true), EnsureRequirements rewrites
        # the _bucket repartition into a full-join-key shuffle at
        # spark.sql.shuffle.partitions, which both re-adds the exchange
        # this plan removes AND sprays each bucket over every task
        # (measured: 428 files for a 64-bucket commit).  Relaxing it is
        # safe: hash co-partitioning on a common key subset is always
        # correct for an equi-join.  Scoped to this write: the caller's
        # session keeps its own value.
        target = table.read(spark, buckets=touched, with_bucket_col=True)

        s = changes.repartition(n_parts, "_bucket").alias("s")
        t = target.repartition(n_parts, "_bucket").alias("t")
        joined = t.join(s, on=["_bucket", *pk], how="full_outer")

        take_source = F.col("s.lsn").isNotNull() & (
            F.col("t._last_lsn").isNull() | (F.col("s.lsn") > F.col("t._last_lsn"))
        )
        keep = F.when(take_source, F.col("s.op") != F.lit(OP_DELETE)).otherwise(
            F.col("t._last_lsn").isNotNull()
        )

        out_cols = [F.col(c) for c in pk]
        for c in data_cols:
            out_cols.append(
                F.when(take_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            )
        out_cols.append(
            F.when(take_source, F.col("s.lsn"))
            .otherwise(F.col("t._last_lsn")).alias("_last_lsn")
        )
        out_cols.append(
            F.when(take_source, F.col("s.txid"))
            .otherwise(F.col("t._last_txid")).alias("_last_txid")
        )

        # the coalesced _bucket join key rides through: the write consumes
        # the join's own partitioning (one/few whole buckets per task —
        # bounded file count), no extra exchange
        result = joined.filter(keep).select(*out_cols, F.col("_bucket"))

        t2 = time.time()
        with conf_set(
            spark, "spark.sql.requireAllClusterKeysForCoPartition", "false"
        ):
            new_files = table.write_data_files(result, spark)
        phases["write"] = round(time.time() - t2, 3)
    finally:
        if discover:
            changes.unpersist()
    t3 = time.time()
    rows = sum(f["rows"] for f in new_files)
    metrics = {
        "events_compacted": None,  # caller may fill
        "rows_written": rows,
        "buckets_touched": len(touched),
        "files_written": len(new_files),
        "merge_secs": round(time.time() - t0, 3),
        **(extra_metrics or {}),
    }
    # replaced slots span every partition spec: rewriting current bucket b
    # also consumes the old-spec bucket it split from (rows were read via
    # the same mapping and re-written under the current spec — lazy
    # migration by touch)
    table.commit_data(
        new_files, table.replaced_entries(touched), applied_upto_lsn,
        batch_id, metrics,
    )
    phases["commit"] = round(time.time() - t3, 3)
    return {"rows_written": rows, "buckets": len(touched),
            "secs": time.time() - t0, "phases": phases}
