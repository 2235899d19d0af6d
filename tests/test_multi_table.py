"""Multi-table replay: ONE planning pass + ONE slim scan per data batch
feed k independent lake tables (r4 ask #4 — the k-single-table formulation
cost k full log scans), with per-table schema routing and convergence
against per-table sequential oracles."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from logicaldecoding_spark.generator import SchemaChangeSpec, generate_log
from logicaldecoding_spark.oracle import replay_oracle
from logicaldecoding_spark.plans.replay import replay, replay_multi

from .util import assert_converged


@pytest.fixture(scope="module")
def multi_log(tmp_path_factory):
    """A two-table log: data txns alternate between tables 'repos' and
    'repos2' by txid parity; each table gets one routed schema change."""
    tmp = tmp_path_factory.mktemp("multi")
    base = str(tmp / "base.parquet")
    generate_log(
        base, n_txns=200, n_repos=12, paths_per_repo=6,
        schema_changes=[
            SchemaChangeSpec(at_txn=60, kind="add_column",
                             column="size", type="int"),
            SchemaChangeSpec(at_txn=120, kind="add_column",
                             column="stars", type="long"),
        ],
    )
    pdf = pd.read_parquet(
        base, columns=["lsn", "txid", "seq", "op", "payload"]
    )
    r_seen = {"n": 0}

    def rewrite(row):
        ev = json.loads(row["payload"])
        if ev["op"] in ("I", "U", "D"):
            ev["table"] = "repos" if ev["txid"] % 2 == 0 else "repos2"
        elif ev["op"] == "R":
            # route the first change to repos, the second to repos2
            ev["table"] = "repos" if r_seen["n"] == 0 else "repos2"
            r_seen["n"] += 1
        return json.dumps(ev, separators=(",", ":"))

    pdf["payload"] = pdf.apply(rewrite, axis=1)
    out = str(tmp / "multi.parquet")
    pdf.to_parquet(out, index=False)

    # per-table filtered logs for the independent oracles: markers always,
    # data events of that table, R events routed to it
    def table_log(t):
        def keep(p):
            ev = json.loads(p)
            if ev["op"] in ("B", "C"):
                return True
            if ev["op"] == "R":
                return ev.get("table") in (None, t)
            return ev.get("table") == t

        f = pdf[pdf["payload"].map(keep)]
        path = str(tmp / f"only_{t}.parquet")
        f.to_parquet(path, index=False)
        return path

    return out, table_log("repos"), table_log("repos2")


def test_replay_multi_converges_per_table(spark, multi_log, tmp_path):
    log, only_a, only_b = multi_log
    run = replay_multi(
        spark, log,
        {"repos": str(tmp_path / "ta"), "repos2": str(tmp_path / "tb")},
        n_buckets=4, n_data_batches=2,
    )
    assert run["planning_scans"] == 1
    state_a, schema_a = replay_oracle(only_a)
    state_b, schema_b = replay_oracle(only_b)
    # routed evolution: each oracle saw exactly its own change
    assert "size" in {f.name for f in schema_a.fields}
    assert "stars" not in {f.name for f in schema_a.fields}
    assert "stars" in {f.name for f in schema_b.fields}
    assert_converged(spark, str(tmp_path / "ta"), state_a)
    assert_converged(spark, str(tmp_path / "tb"), state_b)


def test_replay_multi_one_slim_scan_per_batch(spark, multi_log, tmp_path,
                                              monkeypatch):
    """The scan-count gate: k tables must NOT cost k slim parses — one
    parse_slim call per data batch and one planning scan total."""
    from logicaldecoding_spark.plans import batches as B
    from logicaldecoding_spark.sources import parse as parse_mod

    log, _, _ = multi_log
    calls = {"slim": 0, "scan": 0}
    orig_slim = parse_mod.parse_slim
    orig_scan = B._scan_log

    def counting_slim(*a, **kw):
        calls["slim"] += 1
        return orig_slim(*a, **kw)

    def counting_scan(*a, **kw):
        calls["scan"] += 1
        return orig_scan(*a, **kw)

    monkeypatch.setattr(parse_mod, "parse_slim", counting_slim)
    monkeypatch.setattr(B, "_scan_log", counting_scan)
    replay_multi(
        spark, log,
        {"repos": str(tmp_path / "ca"), "repos2": str(tmp_path / "cb")},
        n_buckets=4, n_data_batches=3,
    )
    assert calls["scan"] == 1, f"planned with {calls['scan']} scans"
    assert calls["slim"] == 3, (
        f"{calls['slim']} slim parses for 3 data batches x 2 tables — "
        "the shared scan is gone"
    )


def test_replay_multi_single_table_parity(spark, multi_log, tmp_path):
    """replay_multi on ONE table must produce exactly the state the
    single-table replay produces (same routing semantics)."""
    from logicaldecoding_spark.table.format import LakeTable

    log, _, _ = multi_log
    replay(spark, log, str(tmp_path / "single"), n_buckets=4,
           source_table="repos")
    replay_multi(spark, log, {"repos": str(tmp_path / "multi1")},
                 n_buckets=4)
    one = {(r["repo"], r["path"]): r.asDict()
           for r in LakeTable.load(str(tmp_path / "single"))
           .read(spark).collect()}
    two = {(r["repo"], r["path"]): r.asDict()
           for r in LakeTable.load(str(tmp_path / "multi1"))
           .read(spark).collect()}
    assert one == two


def test_replay_multi_resolves_wire_like_replay(spark, multi_log, tmp_path):
    """replay and replay_multi share one wire resolver: asking for the
    sidecar wire on a log without sidecar columns fails the same way, and
    on the proto wire both record which decoder ran and why."""
    import os

    from logicaldecoding_spark.sources.proto import native_decoder

    log, _, _ = multi_log
    with pytest.raises(ValueError, match="tuple-sidecar") as single:
        replay(spark, log, str(tmp_path / "s"), parse_mode="sidecar")
    with pytest.raises(ValueError, match="tuple-sidecar") as multi:
        replay_multi(spark, log, {"repos": str(tmp_path / "m")},
                     parse_mode="sidecar")
    assert str(multi.value) == str(single.value)

    proto_log = str(tmp_path / "wal_proto.parquet")
    generate_log(proto_log, n_txns=30, n_repos=4, paths_per_repo=3,
                 payload_format="proto")
    single_run = replay(spark, proto_log, str(tmp_path / "ps"),
                        parse_mode="proto", n_buckets=4)
    multi_run = replay_multi(spark, proto_log, {"repos": str(tmp_path / "pm")},
                             parse_mode="proto", n_buckets=4)
    assert multi_run["wire"] == single_run["wire"]
    so_path, reason = native_decoder()
    assert single_run["wire"]["decoder"] == "native", single_run["wire"]
    assert single_run["wire"]["decoder_reason"] == reason
    assert reason == os.path.basename(so_path)
    state, _ = replay_oracle(proto_log)
    assert_converged(spark, str(tmp_path / "ps"), state)
    assert_converged(spark, str(tmp_path / "pm"), state)


def test_fragmented_log_resolves_native_on_auto(spark, multi_log, tmp_path,
                                                monkeypatch):
    """A payload log with more than four row groups per core resolves to
    the native JSON parser on 'auto' in both replay and replay_multi:
    every slim pass goes through parse_slim over the JVM scan, and each
    table still converges."""
    import pyarrow.parquet as pq

    from logicaldecoding_spark.sources import parse as parse_mod

    log, only_a, only_b = multi_log
    rows = pq.read_table(log)
    n_groups = 4 * spark.sparkContext.defaultParallelism + 1
    fragmented = str(tmp_path / "fragmented.parquet")
    pq.write_table(rows, fragmented,
                   row_group_size=max(1, rows.num_rows // n_groups))
    assert pq.ParquetFile(fragmented).num_row_groups >= n_groups
    modes = []
    orig_slim = parse_mod.parse_slim

    def recording_slim(raw, pk, mode="native"):
        modes.append(mode)
        return orig_slim(raw, pk, mode=mode)

    monkeypatch.setattr(parse_mod, "parse_slim", recording_slim)
    multi = replay_multi(spark, fragmented, {"repos": str(tmp_path / "da"),
                                             "repos2": str(tmp_path / "db")},
                         n_buckets=4)
    single = replay(spark, fragmented, str(tmp_path / "single"), n_buckets=4,
                    source_table="repos")
    assert modes and set(modes) == {"native"}, modes
    for run in (multi, single):
        assert run["wire"]["parse_mode"] == "native", run["wire"]
        assert set(run["wire"]) == {"parse_mode", "reason"}
    state_a, _ = replay_oracle(only_a)
    state_b, _ = replay_oracle(only_b)
    assert_converged(spark, str(tmp_path / "da"), state_a)
    assert_converged(spark, str(tmp_path / "db"), state_b)
    assert_converged(spark, str(tmp_path / "single"), state_a)


def test_replay_multi_sidecar_wire(spark, tmp_path):
    """Multi-table replay on the tuple-sidecar capture: routing reads the
    capture's own table column, planning stays payload-free, and each
    table converges to its oracle exactly as on the payload wire."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # rebuild the multi-table log WITH the sidecar columns: re-generate the
    # base capture as a sidecar log, then re-route table assignment the
    # same way the payload fixture did (txid parity; R events by order)
    base = str(tmp_path / "base_sc.parquet")
    generate_log(
        base, n_txns=200, n_repos=12, paths_per_repo=6,
        schema_changes=[
            SchemaChangeSpec(at_txn=60, kind="add_column",
                             column="size", type="int"),
            SchemaChangeSpec(at_txn=120, kind="add_column",
                             column="stars", type="long"),
        ],
        tuple_sidecar=True,
    )
    t = pq.read_table(base)
    ops = t.column("op").to_pylist()
    txids = t.column("txid").to_pylist()
    payloads = t.column("payload").to_pylist()
    tables = t.column("table").to_pylist()
    r_seen = 0
    new_tbl, new_payload = [], []
    for op, txid, tbl_v, p in zip(ops, txids, tables, payloads):
        ev = json.loads(p)
        if op in ("I", "U", "D"):
            name = "repos" if txid % 2 == 0 else "repos2"
            ev["table"] = name
            new_tbl.append(name)
        elif op == "R":
            name = "repos" if r_seen == 0 else "repos2"
            r_seen += 1
            ev["table"] = name
            new_tbl.append(name)
        else:
            new_tbl.append(tbl_v)
        new_payload.append(json.dumps(ev, separators=(",", ":")))
    cols = {n: t.column(n) for n in t.schema.names}
    cols["table"] = pa.array(new_tbl, pa.string())
    cols["payload"] = pa.array(new_payload, pa.string())
    log_sc = str(tmp_path / "multi_sc.parquet")
    pq.write_table(pa.table(cols), log_sc)

    run = replay_multi(
        spark, log_sc,
        {"repos": str(tmp_path / "sa"), "repos2": str(tmp_path / "sb")},
        n_buckets=4,
    )
    assert run["planning_scans"] == 1
    # fresh generation -> build the per-table oracles from THIS log
    import pandas as pd

    pdf = pd.DataFrame({
        "lsn": t.column("lsn").to_pylist(),
        "txid": txids, "seq": t.column("seq").to_pylist(),
        "op": ops, "payload": new_payload,
    })

    def table_log(name):
        def keep(p):
            ev = json.loads(p)
            if ev["op"] in ("B", "C"):
                return True
            if ev["op"] == "R":
                return ev.get("table") in (None, name)
            return ev.get("table") == name

        f = pdf[pdf["payload"].map(keep)]
        path = str(tmp_path / f"sc_only_{name}.parquet")
        f.to_parquet(path, index=False)
        return path

    state_a, _ = replay_oracle(table_log("repos"))
    state_b, _ = replay_oracle(table_log("repos2"))
    assert_converged(spark, str(tmp_path / "sa"), state_a)
    assert_converged(spark, str(tmp_path / "sb"), state_b)


def test_stream_replay_multi_table(spark, multi_log, tmp_path):
    """The live tail on a multi-table capture: shared transaction
    classification and pending sidecars, one planning pass per micro-batch,
    per-table convergence — including transactions straddling file cuts."""
    from logicaldecoding_spark.generator import split_log_dir
    from logicaldecoding_spark.streaming.stream_replay import stream_replay

    log, only_a, only_b = multi_log
    log_dir = str(tmp_path / "mlog_dir")
    split_log_dir(log, log_dir, n_files=6, cut_mid_txn=True)
    tables = {"repos": str(tmp_path / "st_a"), "repos2": str(tmp_path / "st_b")}
    q = stream_replay(
        spark, log_dir, tables, str(tmp_path / "ckpt_multi"),
        n_buckets=4, parse_mode="native", max_files_per_trigger=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state_a, _ = replay_oracle(only_a)
    state_b, _ = replay_oracle(only_b)
    assert_converged(spark, tables["repos"], state_a)
    assert_converged(spark, tables["repos2"], state_b)


def test_replay_multi_resume_per_table_watermarks(spark, multi_log, tmp_path):
    """Each table resumes from ITS OWN watermark: pre-advancing one table
    past the log leaves only the other to apply, and a full rerun over
    both is an idempotent no-op with converged state."""
    from logicaldecoding_spark.table.format import LakeTable

    log, only_a, only_b = multi_log
    tables = {"repos": str(tmp_path / "ra"), "repos2": str(tmp_path / "rb")}
    run1 = replay_multi(spark, log, tables, n_buckets=4)
    v_a = LakeTable.load(tables["repos"]).version
    v_b = LakeTable.load(tables["repos2"]).version
    # idempotent rerun: both tables' watermarks skip everything
    run2 = replay_multi(spark, log, tables, n_buckets=4)
    assert LakeTable.load(tables["repos"]).version == v_a
    assert LakeTable.load(tables["repos2"]).version == v_b
    assert all(
        not [b for b in t["batches"] if b["kind"] == "data"]
        for t in run2["tables"].values()
    )
    state_a, _ = replay_oracle(only_a)
    state_b, _ = replay_oracle(only_b)
    assert_converged(spark, tables["repos"], state_a)
    assert_converged(spark, tables["repos2"], state_b)
