"""Vectorized parse: the native JSON parser == a json.loads reference row
for row, and crafted-event handling.

Covers the reference's decode layer (RowMessage::decode,
/root/reference/src/replication.rs:120-122) and datum semantics: missing key
== NULL (datum_missing, pg_logicaldec.proto:33)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from logicaldecoding_spark.sources.parse import parse_events


def _df_from_payloads(spark, payloads):
    rows = [(i + 1, p) for i, p in enumerate(payloads)]
    return spark.createDataFrame(rows, "lsn long, payload string")


def _log_payloads(log_path, lsn_from=None, lsn_to=None):
    """The log's (lsn, payload) pairs in LSN order, read with pyarrow and
    windowed to (lsn_from, lsn_to]."""
    import pyarrow.parquet as pq

    t = pq.read_table(log_path, columns=["lsn", "payload"]).to_pydict()
    return sorted(
        (lsn, p) for lsn, p in zip(t["lsn"], t["payload"])
        if (lsn_from is None or lsn > lsn_from)
        and (lsn_to is None or lsn <= lsn_to)
    )


def _reference_event(lsn, payload):
    """One parse_events row from ``json.loads``: an absent key is an
    absent map entry, an absent object a NULL map."""
    j = json.loads(payload)
    change = j.get("change")
    return (
        lsn, j.get("txid"), j.get("seq"), j.get("ct"), j.get("op"),
        j.get("table"), j.get("new"), j.get("old"),
        None if change is None
        else tuple(change.get(k) for k in ("kind", "column", "type")),
        None,
    )


def _reference_slim(lsn, payload, pk):
    """One parse_slim row from ``json.loads``: each pk column coalesces
    ``new`` over ``old``."""
    j = json.loads(payload)
    new, old = j.get("new") or {}, j.get("old") or {}
    return (
        lsn, j.get("txid"), j.get("seq"), j.get("op"), j.get("table"),
        *[new.get(c) if new.get(c) is not None else old.get(c) for c in pk],
    )


def test_modes_agree_on_generated_log(spark, small_log):
    """The native parse of a generated log (schema changes included)
    equals an independent json.loads reference, row for row."""
    log_path, _ = small_log
    raw = spark.read.parquet(log_path).select("lsn", "payload")
    got = parse_events(raw, mode="native").orderBy("lsn").collect()
    want = [_reference_event(lsn, p) for lsn, p in _log_payloads(log_path)]
    assert len(got) == len(want)
    assert any(w[8] is not None for w in want)  # R events are covered
    for x, y in zip(got, want):
        assert tuple(x) == y, f"native!=json.loads at lsn {y[0]}: {x} vs {y}"


def test_crafted_events_all_shapes(spark):
    payloads = [
        json.dumps({"txid": 7, "seq": 0, "ct": 1, "op": "B"}),
        json.dumps(
            {
                "txid": 7, "seq": 0, "ct": 1, "op": "I", "table": "repos",
                "new": {"repo": "r", "path": "p", "commit": "c", "content": "x"},
            }
        ),
        json.dumps(
            {
                "txid": 7, "seq": 1, "ct": 1, "op": "U", "table": "repos",
                # lang ABSENT -> NULL; old carries the pk
                "new": {"repo": "r", "path": "p", "commit": "c2", "content": "y"},
                "old": {"repo": "r", "path": "p"},
            }
        ),
        json.dumps(
            {
                "txid": 7, "seq": 2, "ct": 1, "op": "D", "table": "repos",
                "old": {"repo": "r", "path": "p"},
            }
        ),
        json.dumps(
            {
                "txid": 8, "seq": 0, "ct": 2, "op": "R",
                "change": {"kind": "add_column", "column": "stars", "type": "long"},
            }
        ),
        json.dumps({"txid": 7, "seq": 0, "ct": 1, "op": "C"}),
    ]
    rows = (
        parse_events(_df_from_payloads(spark, payloads), mode="native")
        .orderBy("lsn")
        .collect()
    )
    assert [r["op"] for r in rows] == ["B", "I", "U", "D", "R", "C"]
    ins = rows[1]
    assert ins["new_tuple"]["repo"] == "r"
    assert "lang" not in ins["new_tuple"]  # absent == NULL, never a key
    upd = rows[2]
    assert upd["old_tuple"] == {"repo": "r", "path": "p"}
    dele = rows[3]
    assert dele["new_tuple"] is None
    rel = rows[4]
    assert rel["schema_change"]["kind"] == "add_column"
    assert rel["schema_change"]["column"] == "stars"
    assert rows[0]["new_tuple"] is None and rows[5]["new_tuple"] is None


def test_unicode_and_escapes_roundtrip(spark):
    content = 'line1\nline2\t"quoted" \\ slash é中文'
    p = json.dumps(
        {
            "txid": 1, "seq": 0, "ct": 1, "op": "I", "table": "repos",
            "new": {"repo": "r", "path": "p", "commit": "c", "content": content},
        }
    )
    row = parse_events(_df_from_payloads(spark, [p]), mode="native").collect()[0]
    assert row["new_tuple"]["content"] == content


def test_sidecar_parse_matches_payload_parse(spark, tmp_path):
    """A tuple-sidecar capture's columnar decode must equal the payload
    parse row-for-row (full AND slim shapes) — the sidecar is the same
    event, pre-decoded by the archiver, not a different one."""
    from logicaldecoding_spark.generator import default_evolution, generate_log
    from logicaldecoding_spark.sources.parse import parse_slim

    log = str(tmp_path / "wal_sc.parquet")
    generate_log(log, n_txns=120, n_repos=10, paths_per_repo=6,
                 schema_changes=default_evolution(120), tuple_sidecar=True)
    raw = spark.read.parquet(log).drop("committed")

    full_ref = parse_events(raw, mode="native").orderBy("lsn").collect()
    full_sc = parse_events(raw, mode="sidecar").orderBy("lsn").collect()
    assert len(full_ref) == len(full_sc)
    for a, b in zip(full_ref, full_sc):
        for c in ("lsn", "txid", "seq", "commit_time_us", "op", "table",
                  "new_tuple", "old_tuple"):
            assert a[c] == b[c], (c, a, b)

    pk = ("repo", "path")
    slim_ref = parse_slim(raw, pk, mode="native").orderBy("lsn").collect()
    slim_sc = parse_slim(raw, pk, mode="sidecar").orderBy("lsn").collect()
    assert [tuple(r) for r in slim_ref] == [tuple(r) for r in slim_sc]


def test_sidecar_replay_all_jvm_and_converges(spark, tmp_path):
    """parse_mode='auto' on a tuple-sidecar capture resolves to the
    columnar path, converges with the oracle, and the hot path runs with
    ZERO Python payload decode (no mapInArrow over payload anywhere in the
    winner-parse plan)."""
    from logicaldecoding_spark.generator import default_evolution, generate_log
    from logicaldecoding_spark.oracle import replay_oracle
    from logicaldecoding_spark.plans.replay import replay
    from logicaldecoding_spark.sources.parse import parse_events

    log = str(tmp_path / "wal_sc.parquet")
    generate_log(log, n_txns=300, n_repos=20, paths_per_repo=10,
                 schema_changes=default_evolution(300), tuple_sidecar=True)
    table_path = str(tmp_path / "t")
    run = replay(spark, log, table_path, parse_mode="auto", n_buckets=8,
                 n_data_batches=2)
    assert all(b["kind"] == "schema" or b.get("compaction") in ("slim", "full")
               for b in run["batches"])
    oracle_state, _ = replay_oracle(log)
    assert_converged_local(spark, table_path, oracle_state)

    raw = spark.read.parquet(log).drop("committed")
    plan = parse_events(raw, mode="sidecar")._jdf.queryExecution() \
        .executedPlan().toString()
    for marker in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, marker


def assert_converged_local(spark, table_path, oracle_state):
    from logicaldecoding_spark.oracle import diff_states, state_with_hashes
    from logicaldecoding_spark.table.format import LakeTable

    eng = {(r["repo"], r["path"]): r.asDict()
           for r in LakeTable.load(table_path).read(spark).collect()}
    assert diff_states(state_with_hashes(oracle_state),
                       state_with_hashes(eng)) == []


def test_slim_parsers_agree_with_schema_changes(spark, tmp_path):
    """The native slim parse equals a json.loads reference row for row on
    a log with schema-change events: unbounded and on an (lsn_from,
    lsn_to] window that cuts through row groups."""
    import pyarrow.parquet as pq

    from logicaldecoding_spark.generator import default_evolution, generate_log
    from logicaldecoding_spark.sources.parse import parse_slim

    base = str(tmp_path / "base.parquet")
    stats = generate_log(base, n_txns=200, n_repos=12, paths_per_repo=6,
                         schema_changes=default_evolution(200))
    # several row groups, so the window prunes some and cuts others
    log = str(tmp_path / "wal.parquet")
    t = pq.read_table(base)
    pq.write_table(t, log, row_group_size=t.num_rows // 5 + 1)
    raw = spark.read.parquet(log).select("lsn", "payload")
    assert raw.filter(F.col("payload").contains('"op":"R"')).count() == 3
    pk = ("repo", "path")
    top = stats["max_lsn"]
    for lo, hi in ((None, None), (top // 3, 2 * top // 3 + 7)):
        win = raw
        if lo is not None:
            win = raw.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        got = [tuple(r) for r in
               parse_slim(win, pk, mode="native").orderBy("lsn").collect()]
        want = [_reference_slim(lsn, p, pk)
                for lsn, p in _log_payloads(log, lo, hi)]
        assert len(got) == win.count()
        assert got == want, (lo, hi)


def test_parse_slim_rejects_unknown_mode(spark):
    """An unknown slim mode fails at once instead of silently falling
    through to from_json."""
    from logicaldecoding_spark.sources.parse import parse_slim

    raw = _df_from_payloads(spark, ['{"txid":1,"seq":0,"ct":1,"op":"B"}'])
    for mode in ("bogus", "arrow", "duckdb"):
        with pytest.raises(ValueError, match="unknown parse mode"):
            parse_slim(raw, ("repo", "path"), mode=mode)
        with pytest.raises(ValueError, match="unknown parse mode"):
            parse_events(raw, mode=mode)
