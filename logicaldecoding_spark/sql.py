"""SQL facade: run plain ``spark.sql`` over lake tables.

The reference exposes its replica only programmatically (a Rust HashMap,
/root/reference/src/types/mod.rs:39); a Spark user expects the replica to be
queryable as a TABLE.  This module registers LakeTable reads as temp views so
the whole engine surface — reconciled live state, named refs, time travel,
the CDC-out changelog, snapshot history — is reachable from SQL with zero
new execution machinery: every view is the SAME DataFrame the Python API
returns (stats-pruned scan, MoR reconciliation, bucket pruning all apply),
so Catalyst plans SQL over the lake exactly as it plans the DataFrame calls.

Snapshot semantics: a view pins the snapshot that was current at ``attach``
time (the manifest is resolved when the DataFrame is built).  That is the
read-isolation behavior a lake table wants — long queries never see a
torn mix of two snapshots — but it means a view does NOT follow later
commits: call ``attach`` again (idempotent, ``CREATE OR REPLACE``) to move
to the new head.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .session import local_frame
from .table.format import LakeTable


def attach(
    spark: SparkSession,
    tables: dict[str, str | LakeTable],
    *,
    ref: str = "main",
    version: int | None = None,
    suffix: str = "",
) -> dict[str, DataFrame]:
    """Register each table's reconciled state as a temp view ``<name><suffix>``.

    ``ref``/``version`` select a named ref or a time-travel snapshot for ALL
    listed tables (attach twice with different suffixes to query two
    snapshots side by side, e.g. an audit diff of a staged branch vs main:
    ``attach(spark, {'repos': p}); attach(spark, {'repos': p}, ref='stage',
    suffix='_staged')`` then ``SELECT ... FROM repos_staged EXCEPT ...``).
    Returns the registered DataFrames by view name."""
    out: dict[str, DataFrame] = {}
    for name, t in tables.items():
        tbl = t if isinstance(t, LakeTable) else LakeTable.load(t, ref=ref)
        if isinstance(t, LakeTable) and ref != "main":
            tbl = LakeTable.load(t.path, io=t.io, ref=ref)
        df = (
            tbl.read_version(spark, version)
            if version is not None else tbl.read(spark)
        )
        view = f"{name}{suffix}"
        df.createOrReplaceTempView(view)
        out[view] = df
    return out


def table_changes(
    spark: SparkSession,
    table: str | LakeTable,
    from_version: int,
    to_version: int | None = None,
    *,
    include_preimages: bool = False,
    view: str | None = None,
) -> DataFrame:
    """The CDC-out changelog between two snapshots (``read_changes``),
    optionally registered as a temp view — the Delta ``table_changes`` /
    Iceberg changelog-scan analog for SQL consumers."""
    t = table if isinstance(table, LakeTable) else LakeTable.load(table)
    df = t.read_changes(
        spark, from_version, to_version, include_preimages=include_preimages
    )
    if view is not None:
        df.createOrReplaceTempView(view)
    return df


def describe_history(
    spark: SparkSession, table: str | LakeTable, view: str | None = None,
) -> DataFrame:
    """Snapshot lineage of the table's ref as a DataFrame (version, files,
    rows, watermark, commit kind) — driver-side metadata, bounded by the
    snapshot-expiry policy."""
    t = table if isinstance(table, LakeTable) else LakeTable.load(table)
    rows = [
        (
            int(e["version"]), int(e["schema_id"]),
            int(e["applied_upto_lsn"]), e.get("batch_id"),
            int(e["files"]), int(e["rows"]),
            e.get("timestamp_ms"),
            (e.get("metrics") or {}).get("kind"),
        )
        for e in t.history()
    ]
    df = local_frame(
        spark, rows,
        "version long, schema_id long, applied_upto_lsn long, batch_id long,"
        " files long, rows long, timestamp_ms long, kind string",
    )
    if view is not None:
        df.createOrReplaceTempView(view)
    return df


def describe_files(
    spark: SparkSession, table: str | LakeTable, view: str | None = None,
) -> DataFrame:
    """The current snapshot's data files as a DataFrame (the Iceberg
    ``<table>.files`` metadata table): path, bucket slot, content kind
    (base/delta), row count, lsn bound, and the per-column footer stats as
    a JSON string (``get_json_object(stats_json, '$.col[0]')`` = min,
    ``[1]`` = max, ``[2]`` = null count).  Driver-side metadata only — no
    data file is opened; this is how an operator audits file skipping,
    clustering quality, and MoR delta buildup from SQL."""
    import json as _json

    t = table if isinstance(table, LakeTable) else LakeTable.load(table)
    meta = t.metadata()
    rows = [
        (
            m["path"], int(m["bucket"]), int(m.get("spec_id", 0)),
            int(m["schema_id"]), m.get("content", "base"),
            m.get("rows"), m.get("max_lsn"),
            _json.dumps(m.get("stats") or {}),
            (m.get("bloom") or {}).get("col"),
        )
        for m in meta["snapshot"]["manifest"]
    ]
    df = local_frame(
        spark, rows,
        "path string, bucket int, spec_id int, schema_id int,"
        " content string, rows long, max_lsn long, stats_json string,"
        " bloom_col string",
    )
    if view is not None:
        df.createOrReplaceTempView(view)
    return df


def describe_refs(
    spark: SparkSession, table: str | LakeTable, view: str | None = None,
) -> DataFrame:
    """Named refs (branches/tags) of the table as a DataFrame."""
    t = table if isinstance(table, LakeTable) else LakeTable.load(table)
    rows = [
        (name, r["kind"], int(r["version"]))
        for name, r in sorted(t.refs().items())
    ]
    df = local_frame(
        spark, rows,
        "name string, kind string, version long",
    )
    if view is not None:
        df.createOrReplaceTempView(view)
    return df
