"""Datum-type breadth: bytes and Point{x,y} travel the full pipeline.

The decoderbufs oneof carries datum_bytes and Point{x,y}
(reference src/pg_logicaldec.proto:16-19, 31-32); tuples on our wire are
map<string,string>, so bytes travel base64 and points travel the Postgres
"(x,y)" text form, decoded by the schema-driven typed projection
(operators/typing.py::datum_to_typed).  This test replays a hand-built log
that evolves the schema with a binary and a point column and checks the
materialized table against the sequential oracle byte-for-byte.
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from logicaldecoding_spark.oracle import replay_oracle
from logicaldecoding_spark.plans.replay import replay
from logicaldecoding_spark.table.format import LakeTable


def _ev(lsn, txid, seq, op, **extra):
    pl = {"txid": txid, "seq": seq, "ct": 1_000_000 + lsn, "op": op}
    if op in ("I", "U", "D"):
        pl["table"] = "repos"
    pl.update(extra)
    return {
        "lsn": lsn, "txid": txid, "seq": seq, "op": op,
        "payload": json.dumps(pl, separators=(",", ":")),
    }


def _write_log(path: str) -> None:
    rows = []
    t = 1

    def txn(events):
        nonlocal t
        lsn0 = len(rows) + 1
        rows.append(_ev(lsn0, t, 0, "B"))
        for k, e in enumerate(events):
            rows.append(_ev(lsn0 + 1 + k, t, k, **e))
        rows.append(_ev(lsn0 + 1 + len(events), t, 0, "C"))
        t += 1

    base = {"repo": "r1", "commit": "c1", "lang": "py", "content": "x"}
    txn([dict(op="I", new={**base, "path": "a"})])
    txn([dict(op="R", change={"kind": "add_column", "column": "thumb",
                              "type": "binary"})])
    txn([dict(op="R", change={"kind": "add_column", "column": "loc",
                              "type": "point"})])
    txn([
        dict(op="I", new={**base, "path": "b", "thumb": "aGVsbG8=",  # b"hello"
                          "loc": "(1.5,-2.25)"}),
        dict(op="I", new={**base, "path": "c", "loc": "(0,3e2)"}),  # no thumb
    ])
    txn([dict(op="U", new={**base, "path": "b", "thumb": "d29ybGQ=",  # b"world"
                           "loc": "(-4,5)"},
              old={"repo": "r1", "path": "b"})])
    txn([dict(op="D", old={"repo": "r1", "path": "c"})])

    cols = {k: [r.get(k) for r in rows] for k in ("lsn", "txid", "seq", "op",
                                                  "payload")}
    pq.write_table(
        pa.table({
            "lsn": pa.array(cols["lsn"], pa.int64()),
            "txid": pa.array(cols["txid"], pa.int64()),
            "seq": pa.array(cols["seq"], pa.int32()),
            "op": pa.array(cols["op"], pa.string()),
            "payload": pa.array(cols["payload"], pa.string()),
        }),
        path,
    )


@pytest.mark.parametrize("parse_mode", ["native"])
def test_binary_and_point_datums_roundtrip(spark, tmp_path, parse_mode):
    log = str(tmp_path / f"wal_{parse_mode}.parquet")
    _write_log(log)
    table_path = str(tmp_path / f"tbl_{parse_mode}")
    replay(spark, log, table_path, parse_mode=parse_mode, n_buckets=4)

    oracle_state, final_schema = replay_oracle(log)
    assert {f.name: f.type for f in final_schema.fields}["thumb"] == "binary"

    eng = {(r["repo"], r["path"]): r for r in
           LakeTable.load(table_path).read(spark).collect()}
    assert set(eng) == set(oracle_state)
    for k, ora in oracle_state.items():
        row = eng[k]
        tb = row["thumb"]
        assert (bytes(tb) if tb is not None else None) == ora.get("thumb"), k
        loc = row["loc"]
        assert (loc.asDict() if loc is not None else None) == ora.get("loc"), k
        assert row["content"] == ora.get("content")
    # the update overwrote b's thumb and the pre-evolution row has NULLs
    assert bytes(eng[("r1", "b")]["thumb"]) == b"world"
    assert eng[("r1", "a")]["thumb"] is None and eng[("r1", "a")]["loc"] is None
    assert eng[("r1", "b")]["loc"].asDict() == {"x": -4.0, "y": 5.0}
