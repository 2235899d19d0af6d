"""Vectorized change-event parsing.

The analog of the reference's per-message protobuf decode
(``RowMessage::decode(&event[25..])``, reference src/replication.rs:120-122),
re-expressed for Spark's batch execution.  The JSON payload wire has one
parser per role:

* ``duckdb`` — the Python-worker parser: ``mapInArrow`` hands each task's
  payloads to DuckDB's yyjson-based ``json_transform``, one SQL statement
  per ~256k rows, zero per-row Python.  It serves the full parse
  (``parse_events``), the pk-pruned slim parse (``parse_slim``) and the
  fragment-direct slim scan (``parse_slim_direct``), which reads the log's
  row groups in the workers themselves.
* ``native`` — ``from_json`` with an explicit schema: stays entirely
  JVM-side inside whole-stage codegen; the reference the tests compare the
  duckdb parser against, row for row.

The other wires have their own modes: ``proto`` decodes decoderbufs
RowMessage bytes (sources/proto.py) and ``sidecar`` projects the columns a
tuple-sidecar capture already carries.  Output columns (beyond ``lsn``):
txid, seq, commit_time_us, op, table, new_tuple (map<string,string>),
old_tuple (map<string,string>), schema_change (struct<kind,column,type>),
new_typeinfo.  ``committed`` is deliberately NOT produced here — commit
status is derived downstream from COMMIT markers (operators/assembly.py),
as logical decoding does for the reference.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as _pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import SCHEMA_CHANGE_TYPE
from ..session import local_frame

# JSON wire schema of one payload (generator.py writes it; field 'ct' is
# commit_time in unix microseconds — the reference converts the pg epoch-2000
# timestamp the same way, src/replication.rs:19,90-97)
_PAYLOAD_JSON_SCHEMA = T.StructType(
    [
        T.StructField("txid", T.LongType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("ct", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("new", T.MapType(T.StringType(), T.StringType())),
        T.StructField("old", T.MapType(T.StringType(), T.StringType())),
        T.StructField("change", SCHEMA_CHANGE_TYPE),
    ]
)

_MAP_T = pa.map_(pa.string(), pa.string())
_CHANGE_T = pa.struct(
    [("kind", pa.string()), ("column", pa.string()), ("type", pa.string())]
)
# decoderbufs' per-column schema metadata channel (repeated TypeInfo,
# /root/reference/src/pg_logicaldec.proto:37-40,49): preserved as a column
# so foreign-wire interop never silently loses it; NULL on the JSON wire,
# which has no typeinfo field
_TYPEINFO_T = pa.list_(
    pa.struct([("modifier", pa.string()), ("value_optional", pa.bool_())])
)
TYPEINFO_SPARK_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("modifier", T.StringType()),
            T.StructField("value_optional", T.BooleanType()),
        ]
    )
)
_OUT_ARROW_SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()),
        ("txid", pa.int64()),
        ("seq", pa.int32()),
        ("commit_time_us", pa.int64()),
        ("op", pa.string()),
        ("table", pa.string()),
        ("new_tuple", _MAP_T),
        ("old_tuple", _MAP_T),
        ("schema_change", _CHANGE_T),
        ("new_typeinfo", _TYPEINFO_T),
    ]
)

_OUT_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("txid", T.LongType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("commit_time_us", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("new_tuple", T.MapType(T.StringType(), T.StringType())),
        T.StructField("old_tuple", T.MapType(T.StringType(), T.StringType())),
        T.StructField("schema_change", SCHEMA_CHANGE_TYPE),
        T.StructField("new_typeinfo", TYPEINFO_SPARK_TYPE),
    ]
)


# the full parse: absent JSON key -> absent map entry (datum_missing),
# absent object -> NULL map, lenient typing -> NULL, as with from_json
_DUCKDB_FULL_SCHEMA = (
    '{"txid":"BIGINT","seq":"INTEGER","ct":"BIGINT","op":"VARCHAR",'
    '"table":"VARCHAR","new":"MAP(VARCHAR,VARCHAR)","old":"MAP(VARCHAR,VARCHAR)",'
    '"change":{"kind":"VARCHAR","column":"VARCHAR","type":"VARCHAR"}}'
)
_DUCKDB_FULL_SQL = f"""
    SELECT lsn, j.txid, j.seq, j.ct AS commit_time_us, j.op,
           j."table", j.new AS new_tuple, j.old AS old_tuple,
           j.change AS schema_change,
           CAST(NULL AS STRUCT(modifier VARCHAR,
                               value_optional BOOLEAN)[])
               AS new_typeinfo
    FROM (SELECT lsn,
                 json_transform(payload, '{_DUCKDB_FULL_SCHEMA}') AS j
          FROM _b)
    """


_DUCKDB_CHUNK_ROWS = 262_144  # amortize per-call SQL/registration overhead


def _chunked(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.Table]:
    """Coalesce the task's incoming Arrow batches into ~256k-row tables:
    Spark hands mapInArrow small batches (maxRecordsPerBatch), and a DuckDB
    round-trip per small batch is overhead-bound."""
    buf: list[pa.RecordBatch] = []
    rows = 0
    for b in batches:
        if b.num_rows == 0:
            continue
        buf.append(b)
        rows += b.num_rows
        if rows >= _DUCKDB_CHUNK_ROWS:
            yield pa.Table.from_batches(buf)
            buf, rows = [], 0
    if buf:
        yield pa.Table.from_batches(buf)


def _duckdb_con():
    """A worker-side DuckDB connection.  Single-threaded: one Spark task ==
    one core."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=1")
    return con


def _duckdb_batches(con, sql: str, table: pa.Table,
                    out: pa.Schema) -> list[pa.RecordBatch]:
    """Run ``sql`` over ``table`` (registered as ``_b``); its result as
    record batches cast to ``out``."""
    con.register("_b", table)
    res = con.execute(sql).arrow()
    con.unregister("_b")
    return res.cast(out).to_batches()


def _duckdb_map(sql: str, out: pa.Schema):
    """mapInArrow function: ``sql`` over each ~256k-row chunk of the task's
    (lsn, payload) batches, cast to ``out``."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        con = _duckdb_con()
        for at in _chunked(batches):
            yield from _duckdb_batches(con, sql, at, out)

    return gen


class _SlimQuery(NamedTuple):
    """The duckdb slim parse of one pk shape, shared by ``parse_slim`` and
    ``parse_slim_direct``."""

    sql: str              # over a registered table _b(lsn, payload)
    arrow: pa.Schema      # its result: (lsn, txid, seq, op, table, *pk)
    spark: T.StructType   # the same columns as Spark types


def _slim_query(pk: tuple[str, ...]) -> _SlimQuery:
    """``new``/``old`` parse as structs of the pk fields only (see
    ``parse_slim``); each pk column coalesces new over old."""
    fields = ",".join(f'"{c}":"VARCHAR"' for c in pk)
    schema = (
        '{"txid":"BIGINT","seq":"INTEGER","op":"VARCHAR","table":"VARCHAR",'
        f'"new":{{{fields}}},"old":{{{fields}}}}}'
    )
    pk_sel = ",".join(f'coalesce(j.new."{c}", j.old."{c}") AS "{c}"' for c in pk)
    sql = f"""
        SELECT lsn, j.txid, j.seq, j.op, j."table", {pk_sel}
        FROM (SELECT lsn, json_transform(payload, '{schema}') AS j FROM _b)
        """
    arrow = pa.schema(
        [
            ("lsn", pa.int64()),
            ("txid", pa.int64()),
            ("seq", pa.int32()),
            ("op", pa.string()),
            ("table", pa.string()),
            *[(c, pa.string()) for c in pk],
        ]
    )
    spark = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("txid", T.LongType()),
            T.StructField("seq", T.IntegerType()),
            T.StructField("op", T.StringType()),
            T.StructField("table", T.StringType()),
            *[T.StructField(c, T.StringType()) for c in pk],
        ]
    )
    return _SlimQuery(sql, arrow, spark)


def parse_slim_direct(
    spark,
    log_path: str,
    pk: tuple[str, ...],
    lsn_from: int | None = None,
    lsn_to: int | None = None,
) -> DataFrame:
    """Slim parse reading log fragments DIRECTLY in Python workers.

    The JVM-scan slim paths ship the entire payload column from the JVM to
    Python workers over Arrow IPC before parsing — at bench scale that
    transfer, not the JSON parse, is the floor.  Here the driver prunes
    (file, row_group) fragments by LSN statistics (sources/wal_log.py) and
    distributes ONE FRAGMENT PER TASK; each Python worker reads its row
    group from Parquet itself (pyarrow) and parses it with DuckDB's yyjson
    ``json_transform`` — payload bytes go parquet -> Python directly.  This
    is the Python-data-source pattern (Spark 4's Python DataSource API
    formalizes it); partition pruning and parallelism match what the JVM
    scan would do (row-group granularity).
    """
    from .wal_log import log_fragments

    frags = log_fragments(log_path, lsn_from, lsn_to)
    q = _slim_query(pk)
    lo, hi = lsn_from, lsn_to

    def gen(batches):
        import pyarrow.parquet as pq

        con = _duckdb_con()
        for batch in batches:
            paths = batch.column(0).to_pylist()
            rgs = batch.column(1).to_pylist()
            for path, rg in zip(paths, rgs):
                t = pq.ParquetFile(path).read_row_group(
                    rg, columns=["lsn", "payload"]
                )
                lsn = t.column("lsn")
                mask = None
                if lo is not None:
                    mask = _pc.greater(lsn, lo)
                if hi is not None:
                    m2 = _pc.less_equal(lsn, hi)
                    mask = m2 if mask is None else _pc.and_(mask, m2)
                if mask is not None:
                    t = t.filter(mask)
                if t.num_rows == 0:
                    continue
                yield from _duckdb_batches(con, q.sql, t, q.arrow)

    if not frags:
        return local_frame(spark, [], q.spark)
    frag_df = local_frame(
        spark, frags, "path string, rg int"
    ).repartition(len(frags))
    return frag_df.mapInArrow(gen, schema=q.spark)


def parse_slim(raw: DataFrame, pk: tuple[str, ...], mode: str = "native"
               ) -> DataFrame:
    """Narrow parse for the slim compaction pass: (lsn, txid, seq, op, *pk).

    ``new``/``old`` are parsed as STRUCTS containing only the pk fields —
    unlike the full map parse, the reader then never materializes the
    payload's large values (``content`` et al.), it only lexes past them.
    Catalyst cannot prune a MapType parse (map semantics require all keys),
    so the reduced schema is built explicitly here.  B/C markers carry no
    tuples and fold to NULL pk columns, exactly as with the map parse.

    ``mode='duckdb'`` runs the narrow pass in Python workers through
    DuckDB's ``json_transform`` with the pruned schema (the same query as
    ``parse_slim_direct``); ``'native'`` stays JVM-side via from_json;
    ``'proto'`` decodes RowMessage wire bytes and projects the slim
    columns (no skip-scan fast path without a C protobuf lib);
    ``'sidecar'`` reads the capture's own key columns — a pure
    column-pruned Parquet scan (lsn, txid, seq, op, table, pk), the only
    slim pass that never touches tuple bytes at all.  Any other mode
    raises ``ValueError``."""
    if mode == "sidecar":
        return raw.select("lsn", "txid", F.col("seq").cast("int").alias("seq"),
                          "op", "table", *pk)
    if mode == "proto":
        ev = parse_events(raw, mode="proto")
        return ev.select(
            "lsn", "txid", "seq", "op", "table",
            *[
                F.coalesce(
                    F.col("new_tuple").getItem(c), F.col("old_tuple").getItem(c)
                ).alias(c)
                for c in pk
            ],
        )
    if mode == "duckdb":
        q = _slim_query(pk)
        return raw.select("lsn", "payload").mapInArrow(
            _duckdb_map(q.sql, q.arrow), schema=q.spark
        )
    if mode != "native":
        raise ValueError(f"unknown parse mode {mode!r}")
    tuple_t = T.StructType([T.StructField(c, T.StringType()) for c in pk])
    sch = T.StructType(
        [
            T.StructField("txid", T.LongType()),
            T.StructField("seq", T.IntegerType()),
            T.StructField("op", T.StringType()),
            T.StructField("table", T.StringType()),
            T.StructField("new", tuple_t),
            T.StructField("old", tuple_t),
        ]
    )
    # two-step projection: the from_json runs ONCE per row (referencing the
    # parse result >1x in a single select would re-inline — and re-parse —
    # it per referencing expression)
    parsed = raw.select("lsn", F.from_json("payload", sch).alias("j"))
    return parsed.select(
        "lsn",
        F.col("j.txid").alias("txid"),
        F.col("j.seq").alias("seq"),
        F.col("j.op").alias("op"),
        F.col("j.table").alias("table"),
        *[
            F.coalesce(F.col(f"j.new.{c}"), F.col(f"j.old.{c}")).alias(c)
            for c in pk
        ],
    )


def parse_markers(raw: DataFrame, mode: str = "json") -> DataFrame:
    """Minimal parse for txn classification: (lsn, txid, op) only."""
    if mode == "proto":
        from .proto import make_proto_marker_batches

        # header-only decode: fields 5/6/7 are length-skipped, never parsed
        return raw.select("lsn", "payload").mapInArrow(
            make_proto_marker_batches(),
            "lsn long, txid long, op string",
        )
    sch = T.StructType(
        [T.StructField("txid", T.LongType()), T.StructField("op", T.StringType())]
    )
    parsed = raw.select("lsn", F.from_json("payload", sch).alias("j"))
    return parsed.select(
        "lsn", F.col("j.txid").alias("txid"), F.col("j.op").alias("op")
    )


def parse_events(raw: DataFrame, mode: str = "duckdb") -> DataFrame:
    """(lsn, payload) -> (lsn, txid, seq, commit_time_us, op, table,
    new_tuple, old_tuple, schema_change, new_typeinfo).

    ``mode='duckdb'`` parses JSON payloads in Python workers (DuckDB
    ``json_transform``); ``'native'`` parses them JVM-side (``from_json``).

    ``mode='proto'`` decodes decoderbufs RowMessage wire bytes (payload is
    BINARY; see sources/proto.py for the mapping and the honest perf note).

    ``mode='sidecar'`` consumes a capture that ALREADY carries the decoded
    event as columns (txid/seq/op/table + new_tuple/old_tuple maps — the
    shape an archiver that fully decodes messages writes; our generator's
    ``tuple_sidecar=True``): a pure JVM-side projection, no payload decode,
    no Python workers anywhere in the replay."""
    if mode == "sidecar":
        return raw.select(
            "lsn",
            F.col("txid").cast("long").alias("txid"),
            F.col("seq").cast("int").alias("seq"),
            F.col("commit_time_us").cast("long").alias("commit_time_us"),
            "op",
            "table",
            "new_tuple",
            "old_tuple",
            # R events are planned from their (retained) wire payloads, so
            # the data path carries a NULL schema_change like every other
            # mode does for non-R rows
            F.lit(None).cast(SCHEMA_CHANGE_TYPE).alias("schema_change"),
            F.lit(None).cast(TYPEINFO_SPARK_TYPE).alias("new_typeinfo"),
        )
    if mode == "duckdb":
        return raw.select("lsn", "payload").mapInArrow(
            _duckdb_map(_DUCKDB_FULL_SQL, _OUT_ARROW_SCHEMA),
            schema=_OUT_SPARK_SCHEMA,
        )
    if mode == "proto":
        from .proto import make_proto_batches

        return raw.select("lsn", "payload").mapInArrow(
            make_proto_batches(), schema=_OUT_SPARK_SCHEMA
        )
    if mode == "native":
        return raw.select(
            "lsn", F.from_json("payload", _PAYLOAD_JSON_SCHEMA).alias("j")
        ).select(
            "lsn",
            F.col("j.txid").alias("txid"),
            F.col("j.seq").alias("seq"),
            F.col("j.ct").alias("commit_time_us"),
            F.col("j.op").alias("op"),
            F.col("j.table").alias("table"),
            F.col("j.new").alias("new_tuple"),
            F.col("j.old").alias("old_tuple"),
            F.col("j.change").alias("schema_change"),
            F.lit(None).cast(TYPEINFO_SPARK_TYPE).alias("new_typeinfo"),
        )
    raise ValueError(f"unknown parse mode {mode!r}")
