"""Structured-Streaming replay: micro-batched file tail converges to the
oracle; restart with the same checkpoint is exactly-once."""

from __future__ import annotations

import shutil

from logicaldecoding_spark.generator import split_log_dir
from logicaldecoding_spark.streaming.stream_replay import stream_replay

from .util import assert_converged


def test_stream_replay_converges(spark, small_log, small_oracle, tmp_path):
    log_path, _ = small_log
    oracle_state, _ = small_oracle
    log_dir = str(tmp_path / "log_dir")
    split_log_dir(log_path, log_dir, n_files=6)
    table_path = str(tmp_path / "stream_table")
    ckpt = str(tmp_path / "ckpt")
    q = stream_replay(
        spark, log_dir, table_path, ckpt, n_buckets=8, parse_mode="native",
        max_files_per_trigger=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert_converged(spark, table_path, oracle_state)


def test_stream_replay_rejects_unknown_parse_mode(spark, tmp_path):
    """A parse mode the tail cannot run ('auto' needs a whole log; the
    deleted 'duckdb' parser; a typo) raises before any table directory is
    created and before any query starts."""
    import os

    import pytest

    log_dir = str(tmp_path / "log_dir")
    os.makedirs(log_dir)
    for mode in ("auto", "duckdb", "bogus"):
        table_path = str(tmp_path / f"t_{mode}")
        with pytest.raises(ValueError, match=f"unknown parse mode '{mode}'"):
            stream_replay(spark, log_dir, table_path,
                          str(tmp_path / f"ckpt_{mode}"), parse_mode=mode)
        assert not os.path.exists(table_path)
        assert spark.streams.active == []


def test_stream_replay_restart_is_exactly_once(spark, small_log, small_oracle, tmp_path):
    log_path, _ = small_log
    oracle_state, _ = small_oracle
    log_dir = str(tmp_path / "log_dir")
    files = split_log_dir(log_path, log_dir, n_files=6)
    assert len(files) >= 4
    table_path = str(tmp_path / "stream_table")
    ckpt = str(tmp_path / "ckpt")

    # phase 1: stream part of the data, then "crash" (stop the query)
    hold = files[-2:]
    held_dir = str(tmp_path / "held")
    import os

    os.makedirs(held_dir)
    for f in hold:
        shutil.move(f, held_dir)
    q = stream_replay(spark, log_dir, table_path, ckpt, n_buckets=8,
                      parse_mode="native", max_files_per_trigger=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # phase 2: the rest of the log arrives; restart from the same checkpoint
    for f in hold:
        shutil.move(os.path.join(held_dir, os.path.basename(f)), log_dir)
    q2 = stream_replay(spark, log_dir, table_path, ckpt, n_buckets=8,
                       parse_mode="native", max_files_per_trigger=2)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert_converged(spark, table_path, oracle_state)


def test_stream_replay_converges_with_mid_txn_file_cuts(
    spark, small_log, small_oracle, tmp_path
):
    """Files cut on SIZE, not txn boundary (the naive-archiver shape): events
    of a transaction whose COMMIT lands in a later micro-batch must be
    buffered in the pending sidecar and applied when the COMMIT arrives —
    the reference's cross-read transaction assembly
    (src/replication.rs:125-139), distributed."""
    log_path, _ = small_log
    oracle_state, _ = small_oracle
    log_dir = str(tmp_path / "log_dir_mid")
    split_log_dir(log_path, log_dir, n_files=7, cut_mid_txn=True)
    table_path = str(tmp_path / "stream_table_mid")
    ckpt = str(tmp_path / "ckpt_mid")
    q = stream_replay(
        spark, log_dir, table_path, ckpt, n_buckets=8, parse_mode="native",
        max_files_per_trigger=1,  # every file boundary is a micro-batch edge
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert_converged(spark, table_path, oracle_state)


def test_stream_replay_mid_txn_cuts_restart(spark, small_log, small_oracle, tmp_path):
    """Crash/restart with a transaction open across the stop point: the
    versioned sidecar + table watermark must keep replay exactly-once."""
    import os

    log_path, _ = small_log
    oracle_state, _ = small_oracle
    log_dir = str(tmp_path / "log_dir_mid_rs")
    files = split_log_dir(log_path, log_dir, n_files=8, cut_mid_txn=True)
    assert len(files) >= 5
    table_path = str(tmp_path / "stream_table_mid_rs")
    ckpt = str(tmp_path / "ckpt_mid_rs")

    hold = files[-3:]
    held_dir = str(tmp_path / "held_mid")
    os.makedirs(held_dir)
    for f in hold:
        shutil.move(f, held_dir)
    q = stream_replay(spark, log_dir, table_path, ckpt, n_buckets=8,
                      parse_mode="native", max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    for f in hold:
        shutil.move(os.path.join(held_dir, os.path.basename(f)), log_dir)
    q2 = stream_replay(spark, log_dir, table_path, ckpt, n_buckets=8,
                       parse_mode="native", max_files_per_trigger=1)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert_converged(spark, table_path, oracle_state)


def _mini_log_file(path: str, rows: list[tuple[int, dict]], mtime: float) -> None:
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "lsn": pa.array([r[0] for r in rows], pa.int64()),
        "payload": pa.array(
            [json.dumps(r[1], separators=(",", ":")) for r in rows], pa.string()
        ),
    })
    pq.write_table(tbl, path)
    import os

    os.utime(path, (mtime, mtime))


def _ev(txid, op, lsn, seq=0, key=None):
    pl = {"txid": txid, "seq": seq, "ct": 946_684_800_000_000, "op": op}
    if op in ("I", "U", "D"):
        pl["table"] = "repos"
        pl["new"] = {"repo": "r", "path": key or f"p{lsn}",
                     "commit": "c" * 40, "lang": "py", "content": "x"}
    return (lsn, pl)


def test_stream_rejects_out_of_order_aborted_revival(spark, tmp_path):
    """ADVICE r2: a still-open txn misclassified 'aborted' because a LATER
    file's commits arrived first must not have its tail applied alone when
    its remaining events finally show up — strict mode fails the query."""
    import os
    import time

    import pytest

    log_dir = str(tmp_path / "log_dir")
    os.makedirs(log_dir)
    base = time.time() - 3600
    # file 0: txn 1 complete; txn 2 OPEN (BEGIN + one event, no COMMIT)
    _mini_log_file(os.path.join(log_dir, "log-00000.parquet"), [
        _ev(1, "B", 1), _ev(1, "I", 2, key="a"), _ev(1, "C", 3),
        _ev(2, "B", 4), _ev(2, "I", 5, key="b"),
    ], base)
    # file 1 arrives OUT OF ORDER (skips txn 2's tail): txn 3 commits at a
    # higher LSN, which makes carried-over txn 2 look aborted
    _mini_log_file(os.path.join(log_dir, "log-00001.parquet"), [
        _ev(3, "B", 10), _ev(3, "I", 11, key="c"), _ev(3, "C", 12),
    ], base + 1)
    # file 2: txn 2's remaining events + COMMIT (below watermark) PLUS a new
    # txn above the watermark — the whole-file-late guard cannot see this
    _mini_log_file(os.path.join(log_dir, "log-00002.parquet"), [
        _ev(2, "I", 6, seq=1, key="b2"), _ev(2, "C", 7),
        _ev(4, "B", 20), _ev(4, "I", 21, key="d"), _ev(4, "C", 22),
    ], base + 2)

    q = stream_replay(
        spark, log_dir, str(tmp_path / "t"), str(tmp_path / "ckpt"),
        n_buckets=4, parse_mode="native", max_files_per_trigger=1,
        strict_order=True,
    )
    try:
        with pytest.raises(Exception, match="aborted|LSN order"):
            q.processAllAvailable()
            if q.exception() is not None:
                raise q.exception()
    finally:
        q.stop()


def test_stream_replay_proto_wire_converges(spark, tmp_path):
    """The live-tail path on the decoderbufs protobuf wire (r3 ask #5):
    binary payload schema, header-only txid tagging, proto marker
    classification — convergent with the sequential oracle, including
    transactions cut mid-file."""
    from logicaldecoding_spark.generator import default_evolution, generate_log
    from logicaldecoding_spark.oracle import replay_oracle

    log = str(tmp_path / "wal_proto.parquet")
    generate_log(log, n_txns=200, n_repos=15, paths_per_repo=8,
                 schema_changes=default_evolution(200),
                 payload_format="proto")
    oracle_state, _ = replay_oracle(log)
    log_dir = str(tmp_path / "log_dir")
    split_log_dir(log, log_dir, n_files=5, cut_mid_txn=True)
    table_path = str(tmp_path / "stream_table")
    q = stream_replay(
        spark, log_dir, table_path, str(tmp_path / "ckpt"), n_buckets=8,
        parse_mode="proto", max_files_per_trigger=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert_converged(spark, table_path, oracle_state)


def test_stream_replay_sidecar_wire_converges(spark, tmp_path):
    """Streaming on the tuple-sidecar capture: txn classification and txid
    tagging read capture columns (zero parse), the apply pipeline runs the
    columnar slim/winner path, and the result converges with the oracle —
    including transactions cut mid-file and carried through the pending
    sidecar with all capture columns intact."""
    from logicaldecoding_spark.generator import default_evolution, generate_log
    from logicaldecoding_spark.oracle import replay_oracle

    log = str(tmp_path / "wal_sc.parquet")
    generate_log(log, n_txns=200, n_repos=15, paths_per_repo=8,
                 schema_changes=default_evolution(200), tuple_sidecar=True)
    oracle_state, _ = replay_oracle(log)
    log_dir = str(tmp_path / "log_dir")
    split_log_dir(log, log_dir, n_files=5, cut_mid_txn=True)
    table_path = str(tmp_path / "stream_table")
    q = stream_replay(
        spark, log_dir, table_path, str(tmp_path / "ckpt"), n_buckets=8,
        parse_mode="sidecar", max_files_per_trigger=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert_converged(spark, table_path, oracle_state)


def test_pending_sidecar_write_is_parallel(spark, tmp_path):
    """r4 verdict "What's wrong #3": one giant in-flight transaction used to
    serialize the whole pending-sidecar write through a single coalesce(1)
    task.  The sidecar is now lsn-hash-partitioned: >1 part file for a
    large open txn, and the carried-over events still apply correctly once
    the COMMIT arrives."""
    import os
    import time

    from .util import assert_converged

    log_dir = str(tmp_path / "log_dir")
    os.makedirs(log_dir)
    base = time.time() - 3600
    # file 0: txn 1 commits; txn 2 is a LARGE open txn (no COMMIT yet)
    big = [_ev(2, "I", 10 + i, seq=i, key=f"k{i}") for i in range(500)]
    _mini_log_file(os.path.join(log_dir, "log-00000.parquet"), [
        _ev(1, "B", 1), _ev(1, "I", 2, key="a"), _ev(1, "C", 3),
        _ev(2, "B", 9), *big,
    ], base)
    table_path, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    q = stream_replay(spark, log_dir, table_path, ckpt, n_buckets=4,
                      parse_mode="native", max_files_per_trigger=1)
    try:
        q.processAllAvailable()
        pending_root = os.path.join(ckpt, "pending")
        epochs = [e for e in os.listdir(pending_root)
                  if e.startswith("epoch=")]
        parts = [
            f for e in epochs
            for f in os.listdir(os.path.join(pending_root, e))
            if f.startswith("part-") and f.endswith(".parquet")
        ]
        assert len(parts) > 1, (
            f"pending sidecar wrote {len(parts)} part file(s): the write "
            "is still serialized"
        )
        # file 1: txn 2's COMMIT arrives -> carried-over events apply
        _mini_log_file(os.path.join(log_dir, "log-00001.parquet"),
                       [_ev(2, "C", 600)], base + 1)
        q.processAllAvailable()
    finally:
        q.stop()
    from logicaldecoding_spark.table.format import LakeTable

    rows = LakeTable.load(table_path).read(spark).count()
    assert rows == 501  # key "a" + 500 carried-over keys
