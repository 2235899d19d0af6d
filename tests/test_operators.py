"""Per-operator unit tests: the abort filter, typing, compaction (incl.
salt), merge branches — the analog of the reference's per-operator CRUD tests
(/root/reference/src/types/tenant/mod.rs:92-185)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from logicaldecoding_spark.operators.compaction import last_writer_wins
from logicaldecoding_spark.operators.merge import merge_into
from logicaldecoding_spark.operators.typing import typed_changes
from logicaldecoding_spark.schema import REPOS_INITIAL_SCHEMA
from logicaldecoding_spark.sources.parse import parse_events
from logicaldecoding_spark.table.format import LakeTable


def _log_df(spark, events):
    """events: list of dicts with lsn + payload-dict."""
    rows = [(e["lsn"], json.dumps({k: v for k, v in e.items() if k != "lsn"})) for e in events]
    return spark.createDataFrame(rows, "lsn long, payload string")


def _ev(lsn, op, txid, seq=0, new=None, old=None):
    e = {"lsn": lsn, "txid": txid, "seq": seq, "ct": lsn, "op": op}
    if new:
        e["new"] = new
    if old:
        e["old"] = old
    return e


def _row(repo="r1", path="p1", commit="c", lang="py", content="x"):
    return {"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content}


def test_committed_filter_drops_aborted_txn(spark, tmp_path):
    # txn 1 commits, txn 2 has no COMMIT marker (rolled back): its events
    # must not survive — the engine-side analog of logical decoding's
    # committed-only visibility (reference replication.rs:125-136).  The
    # filter is replay's slim-pass anti-join on aborted txids.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logicaldecoding_spark.oracle import replay_oracle
    from logicaldecoding_spark.plans.replay import replay

    from .util import assert_converged, table_state

    events = [
        _ev(1, "B", 1), _ev(2, "I", 1, 0, new=_row()), _ev(3, "C", 1),
        _ev(4, "B", 2), _ev(5, "I", 2, 0, new=_row(path="p2")),  # no C
    ]
    log = str(tmp_path / "wal.parquet")
    pq.write_table(pa.table({
        "lsn": pa.array([e["lsn"] for e in events], pa.int64()),
        "txid": pa.array([e["txid"] for e in events], pa.int64()),
        "seq": pa.array([e["seq"] for e in events], pa.int32()),
        "op": pa.array([e["op"] for e in events], pa.string()),
        "payload": pa.array(
            [json.dumps({k: v for k, v in e.items() if k != "lsn"})
             for e in events], pa.string()),
    }), log)
    table_path = str(tmp_path / "t")
    run = replay(spark, log, table_path, n_buckets=4)
    assert run["wire"]["parse_mode"] == "native"
    state = table_state(spark, table_path)
    assert list(state) == [("r1", "p1")]
    assert state[("r1", "p1")]["_last_lsn"] == 2
    assert_converged(spark, table_path, replay_oracle(log)[0])


def test_typed_changes_missing_key_is_null_and_delete_pk_from_old(spark):
    events = [
        _ev(1, "I", 1, 0, new={"repo": "r", "path": "p", "commit": "c", "content": "x"}),
        _ev(2, "D", 1, 1, old={"repo": "r", "path": "p"}),
    ]
    parsed = parse_events(_log_df(spark, events), mode="native")
    rows = (
        typed_changes(parsed, REPOS_INITIAL_SCHEMA).orderBy("lsn").collect()
    )
    ins, dele = rows
    assert ins["lang"] is None  # absent datum folds to NULL (P5)
    assert dele["repo"] == "r" and dele["path"] == "p"  # pk from old_tuple


def test_last_writer_wins_out_of_order_input(spark):
    # shuffle-hostile input order; winner must be (lsn, seq)-max per key
    data = [
        ("r", "p", "I", 5, 0, 1, "v5"),
        ("r", "p", "U", 9, 2, 3, "v9"),
        ("r", "p", "U", 9, 1, 3, "v9a"),
        ("r", "p", "I", 1, 0, 1, "v1"),
        ("r", "q", "I", 3, 0, 1, "w3"),
    ]
    df = spark.createDataFrame(
        data, "repo string, path string, op string, lsn long, seq int, txid long, commit string"
    ).repartition(5)
    for salt in (None, 3):
        out = {
            (r["repo"], r["path"]): r
            for r in last_writer_wins(df, salt_buckets=salt).collect()
        }
        assert out[("r", "p")]["commit"] == "v9"
        assert out[("r", "p")]["lsn"] == 9 and out[("r", "p")]["seq"] == 2
        assert out[("r", "q")]["commit"] == "w3"


def test_salted_compaction_on_extreme_skew(spark):
    # 90% of events hit ONE key — correctness must be distribution-independent
    rows = [("hot", "p", "U", i, 0, 1, f"v{i}") for i in range(1, 901)]
    rows += [(f"cold{i}", "p", "I", 1000 + i, 0, 1, "c") for i in range(100)]
    df = spark.createDataFrame(
        rows, "repo string, path string, op string, lsn long, seq int, txid long, commit string"
    ).repartition(8)
    out = {
        (r["repo"], r["path"]): r for r in last_writer_wins(df, salt_buckets=16).collect()
    }
    assert len(out) == 101
    assert out[("hot", "p")]["commit"] == "v900"


def _make_table(spark, tmp_path, name="t"):
    return LakeTable.create(str(tmp_path / name), REPOS_INITIAL_SCHEMA, n_buckets=4)


def _compacted(spark, rows):
    """rows: (repo,path,commit,lang,content,op,lsn,seq,txid)"""
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string,"
        " op string, lsn long, seq int, txid long",
    )


def test_merge_insert_update_delete_branches(spark, tmp_path):
    table = _make_table(spark, tmp_path)
    # batch 1: two inserts (MERGE "not matched -> insert", S10)
    merge_into(
        spark, table,
        _compacted(spark, [
            ("r", "p1", "c1", "py", "x1", "I", 1, 0, 1),
            ("r", "p2", "c2", "py", "x2", "I", 2, 0, 1),
        ]),
        applied_upto_lsn=3, batch_id=0,
    )
    # batch 2: update p1 (matched -> update, S11), delete p2 (matched+D ->
    # delete, S12), insert p3
    merge_into(
        spark, table,
        _compacted(spark, [
            ("r", "p1", "c9", None, "x9", "U", 10, 0, 2),
            ("r", "p2", None, None, None, "D", 11, 0, 2),
            ("r", "p3", "c3", "go", "x3", "I", 12, 0, 2),
        ]),
        applied_upto_lsn=13, batch_id=1,
    )
    state = {(r["repo"], r["path"]): r for r in table.read(spark).collect()}
    assert set(state) == {("r", "p1"), ("r", "p3")}
    assert state[("r", "p1")]["commit"] == "c9"
    assert state[("r", "p1")]["lang"] is None  # full after-image: lang nulled
    assert state[("r", "p1")]["_last_lsn"] == 10
    assert state[("r", "p1")]["_last_txid"] == 2  # xmin analog
    assert state[("r", "p3")]["_last_lsn"] == 12


def test_merge_is_idempotent_and_lsn_monotone(spark, tmp_path):
    table = _make_table(spark, tmp_path)
    batch = _compacted(spark, [("r", "p1", "c1", "py", "x1", "I", 5, 0, 1)])
    merge_into(spark, table, batch, applied_upto_lsn=5, batch_id=0)
    v1 = table.version
    # replaying the SAME batch must not change state (lsn == _last_lsn -> keep)
    merge_into(spark, table, batch, applied_upto_lsn=5, batch_id=0)
    state = {(r["repo"], r["path"]): r for r in table.read(spark).collect()}
    assert state[("r", "p1")]["commit"] == "c1"
    assert state[("r", "p1")]["_last_lsn"] == 5
    # an OLDER change must lose against newer table state
    stale = _compacted(spark, [("r", "p1", "STALE", "py", "x0", "U", 3, 0, 9)])
    merge_into(spark, table, stale, applied_upto_lsn=5, batch_id=1)
    state = {(r["repo"], r["path"]): r for r in table.read(spark).collect()}
    assert state[("r", "p1")]["commit"] == "c1"
    assert table.version > v1  # snapshots advanced even for no-op content


def test_merge_delete_of_missing_key_is_noop(spark, tmp_path):
    table = _make_table(spark, tmp_path)
    merge_into(
        spark, table,
        _compacted(spark, [("r", "nope", None, None, None, "D", 1, 0, 1)]),
        applied_upto_lsn=1, batch_id=0,
    )
    assert table.read(spark).count() == 0


def test_merge_only_rewrites_touched_buckets(spark, tmp_path):
    table = _make_table(spark, tmp_path)
    rows = [(f"r{i}", "p", f"c{i}", "py", "x", "I", i + 1, 0, 1) for i in range(20)]
    merge_into(spark, table, _compacted(spark, rows), applied_upto_lsn=30, batch_id=0)
    before = {m["path"]: m for m in table.metadata()["snapshot"]["manifest"]}
    # single-key update: exactly one bucket's files may change
    merge_into(
        spark, table,
        _compacted(spark, [("r0", "p", "NEW", "py", "x", "U", 50, 0, 2)]),
        applied_upto_lsn=50, batch_id=1,
    )
    after = {m["path"]: m for m in table.metadata()["snapshot"]["manifest"]}
    changed_buckets = {
        m["bucket"] for p, m in after.items() if p not in before
    } | {m["bucket"] for p, m in before.items() if p not in after}
    assert len(changed_buckets) == 1  # copy-on-write at bucket granularity


def test_merge_leaves_session_conf_unchanged(spark, tmp_path, monkeypatch):
    """The COW write relaxes ``requireAllClusterKeysForCoPartition`` for its
    own plan only: after ``merge_into`` returns or raises, the caller's
    value is back (or the key is unset again), and a 64-bucket commit still
    writes one file per bucket."""
    import pytest

    key = "spark.sql.requireAllClusterKeysForCoPartition"
    table = LakeTable.create(str(tmp_path / "t"), REPOS_INITIAL_SCHEMA,
                             n_buckets=64)
    rows = [(f"r{i}", "p", "c", "py", "x", "I", i + 1, 0, 1)
            for i in range(1000)]
    assert spark.conf.get(key, None) is None
    merge_into(spark, table, _compacted(spark, rows), applied_upto_lsn=1000,
               batch_id=0)
    assert spark.conf.get(key, None) is None
    man = table.metadata()["snapshot"]["manifest"]
    assert len(man) == len({m["bucket"] for m in man}) == 64

    def boom(*a, **kw):
        assert spark.conf.get(key) == "false"
        raise RuntimeError("write failed")

    spark.conf.set(key, "true")
    try:
        monkeypatch.setattr(table, "write_data_files", boom)
        with pytest.raises(RuntimeError, match="write failed"):
            merge_into(spark, table, _compacted(spark, rows[:5]),
                       applied_upto_lsn=1001, batch_id=1)
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.unset(key)
