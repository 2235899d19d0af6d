"""Vectorized change-event parsing.

The analog of the reference's per-message protobuf decode
(``RowMessage::decode(&event[25..])``, reference src/replication.rs:120-122),
re-expressed for Spark's batch execution.  The JSON payload wire has one
parser, ``native``: ``from_json`` with an explicit schema, which stays
entirely JVM-side inside whole-stage codegen.  It serves the full parse
(``parse_events``) and the pk-pruned slim parse (``parse_slim``).

The other wires have their own modes: ``proto`` decodes decoderbufs
RowMessage bytes (sources/proto.py) and ``sidecar`` projects the columns a
tuple-sidecar capture already carries.  Output columns (beyond ``lsn``):
txid, seq, commit_time_us, op, table, new_tuple (map<string,string>),
old_tuple (map<string,string>), schema_change (struct<kind,column,type>),
new_typeinfo.  ``committed`` is deliberately NOT produced here — commit
status is derived downstream from COMMIT markers (the slim pass's aborted
anti-join, plans/replay.py), as logical decoding does for the reference.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import SCHEMA_CHANGE_TYPE

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


def parse_slim(raw: DataFrame, pk: tuple[str, ...], mode: str = "native"
               ) -> DataFrame:
    """Narrow parse for the slim compaction pass: (lsn, txid, seq, op, *pk).

    ``new``/``old`` are parsed as STRUCTS containing only the pk fields —
    unlike the full map parse, the reader then never materializes the
    payload's large values (``content`` et al.), it only lexes past them.
    Catalyst cannot prune a MapType parse (map semantics require all keys),
    so the reduced schema is built explicitly here.  B/C markers carry no
    tuples and fold to NULL pk columns, exactly as with the map parse.

    ``mode='native'`` parses JSON payloads JVM-side via from_json;
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


def parse_events(raw: DataFrame, mode: str = "native") -> DataFrame:
    """(lsn, payload) -> (lsn, txid, seq, commit_time_us, op, table,
    new_tuple, old_tuple, schema_change, new_typeinfo).

    ``mode='native'`` parses JSON payloads JVM-side (``from_json``): an
    absent key is an absent map entry, an absent object a NULL map.

    ``mode='proto'`` decodes decoderbufs RowMessage wire bytes (payload is
    BINARY; see sources/proto.py for the mapping and the honest perf note).

    ``mode='sidecar'`` consumes a capture that ALREADY carries the decoded
    event as columns (txid/seq/op/table + new_tuple/old_tuple maps — the
    shape an archiver that fully decodes messages writes; our generator's
    ``tuple_sidecar=True``): a pure JVM-side projection, no payload decode,
    no Python workers anywhere in the replay.  Any other mode raises
    ``ValueError``."""
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
