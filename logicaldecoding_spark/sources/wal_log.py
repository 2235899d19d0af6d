"""Captured WAL event-log source.

The batch-replay analog of the reference's replication-stream open
(START_REPLICATION, /root/reference/src/replication.rs:75-80): instead of a
CopyBoth socket we scan a Parquet log of serialized events.  Only
``(lsn, payload)`` are read — column pruning keeps the scan minimal, and
lsn-range predicates push down to Parquet row-group stats, which is what makes
per-batch replay O(batch) instead of O(log).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_wal_log(
    spark: SparkSession,
    log_path: str,
    lsn_from: int | None = None,
    lsn_to: int | None = None,
    columns: tuple[str, ...] = ("lsn", "payload"),
) -> DataFrame:
    """Scan the captured log; pruned to ``columns``, lsn-range filtered.

    ``lsn_from`` is exclusive (resume semantics: everything AFTER the
    checkpointed offset, like restarting a slot at its confirmed LSN,
    reference src/replication.rs:59-75); ``lsn_to`` is inclusive.  The
    default projection is the wire shape (lsn, payload); a tuple-sidecar
    capture is read with its decoded columns instead (replay picks them).
    """
    df = spark.read.parquet(log_path).select(*columns)
    if lsn_from is not None:
        df = df.filter(F.col("lsn") > F.lit(lsn_from))
    if lsn_to is not None:
        df = df.filter(F.col("lsn") <= F.lit(lsn_to))
    return df
