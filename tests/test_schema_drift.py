"""Foreign-wire schema drift: a source that adds a column WITHOUT the
engine's ``__schema__`` R-event convention (the shape a genuine
Debezium/decoderbufs capture produces — its wire carries no add-column DDL,
only per-tuple data and ``new_typeinfo``) must never have the new column's
values dropped SILENTLY by the typed projection (r4 verdict "What's
missing #1" / ask #1):

* ``schema_drift='warn'``  (default) — applies under the current schema but
  warns loudly (zero-extra-pass Observation inside the merge's own pass);
* ``schema_drift='strict'`` — fails BEFORE applying anything;
* ``schema_drift='evolve'`` — auto-adds the column and converges with an
  oracle that knows it;
* ``new_typeinfo`` growth (proto wire) triggers the same warning even when
  every new-column datum is missing.
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from logicaldecoding_spark.generator import generate_log
from logicaldecoding_spark.oracle import replay_oracle
from logicaldecoding_spark.plans.replay import SchemaDriftError, replay
from logicaldecoding_spark.schema import REPOS_INITIAL_SCHEMA
from logicaldecoding_spark.table.format import LakeTable

from .util import assert_converged


@pytest.fixture(scope="module")
def drift_log(tmp_path_factory):
    """A JSON-wire log with NO R events where column ``stars`` appears in
    every I/U after-image from the log's midpoint on."""
    tmp = tmp_path_factory.mktemp("drift")
    base = str(tmp / "wal.parquet")
    generate_log(base, n_txns=120, n_repos=10, paths_per_repo=6)
    pdf = pd.read_parquet(
        base, columns=["lsn", "txid", "seq", "op", "payload"]
    )
    cut = int(pdf["lsn"].max()) // 2

    def rewrite(row):
        if row["lsn"] <= cut:
            return row["payload"]
        ev = json.loads(row["payload"])
        if ev["op"] in ("I", "U") and ev.get("new") is not None:
            ev["new"]["stars"] = str(int(row["lsn"]) % 50)
        return json.dumps(ev, separators=(",", ":"))

    pdf["payload"] = pdf.apply(rewrite, axis=1)
    out = str(tmp / "drifted.parquet")
    pdf.to_parquet(out, index=False)
    return out


def _oracle_knowing_stars(log):
    state, _ = replay_oracle(
        log, schema=REPOS_INITIAL_SCHEMA.add_column("stars", "string")
    )
    return state


def test_drift_warn_is_loud_but_applies(spark, drift_log, tmp_path):
    """Default mode: the batch applies under the old schema (values of the
    unknown column dropped) but a loud warning names the drift — never
    silent."""
    table_path = str(tmp_path / "t_warn")
    with pytest.warns(UserWarning, match="schema drift.*stars"):
        replay(spark, drift_log, table_path, n_buckets=4)
    # state matches the oracle WITHOUT the column (old behavior preserved)
    state, _ = replay_oracle(drift_log)
    assert_converged(spark, table_path, state)
    names = {f.name for f in LakeTable.load(table_path).schema.fields}
    assert "stars" not in names


def test_drift_evolve_converges_with_knowing_oracle(spark, drift_log, tmp_path):
    """Auto-evolve: the engine adds the column before projecting and the
    final state matches an oracle that knew the column all along — no value
    loss, across multiple data batches (pre-drift batches NULL-fill)."""
    table_path = str(tmp_path / "t_evolve")
    run = replay(spark, drift_log, table_path, n_buckets=4,
                 n_data_batches=3, schema_drift="evolve")
    evolved = [b.get("schema_drift") for b in run["batches"]
               if b.get("schema_drift")]
    assert any("stars" in e.get("evolved_columns", []) for e in evolved)
    t = LakeTable.load(table_path)
    assert "stars" in {f.name for f in t.schema.fields}
    assert_converged(spark, table_path, _oracle_knowing_stars(drift_log))


def test_drift_evolve_full_compaction_path(spark, drift_log, tmp_path):
    """The full-shuffle compaction path detects drift on the parsed event
    frame (it has no winner frame) and converges identically."""
    table_path = str(tmp_path / "t_evolve_full")
    replay(spark, drift_log, table_path, n_buckets=4,
           compaction="full", schema_drift="evolve")
    assert_converged(spark, table_path, _oracle_knowing_stars(drift_log))


def test_drift_strict_fails_before_applying(spark, drift_log, tmp_path):
    """Strict mode raises BEFORE the drifted batch applies (watermark does
    not advance past it); rerunning with evolve resumes and converges."""
    table_path = str(tmp_path / "t_strict")
    with pytest.raises(SchemaDriftError, match="stars"):
        replay(spark, drift_log, table_path, n_buckets=4,
               schema_drift="strict")
    # single-batch plan: nothing applied at all
    assert LakeTable.load(table_path).applied_upto_lsn == 0
    replay(spark, drift_log, table_path, n_buckets=4, schema_drift="evolve")
    assert_converged(spark, table_path, _oracle_knowing_stars(drift_log))


def test_drift_strict_leaves_no_cached_frames(spark, drift_log, tmp_path):
    """A strict-mode raise frees every frame the replay cached (the slim
    pass, the aborted txids and the winner frame of the drift check)."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    with pytest.raises(SchemaDriftError):
        replay(spark, drift_log, str(tmp_path / "t_strict_cache"),
               n_buckets=4, schema_drift="strict")
    left = set(sc._jsc.getPersistentRDDs().keys()) - before
    assert not left, f"replay left persisted RDDs {sorted(left)}"


def test_drift_strict_multi_batch_stops_at_drift(spark, drift_log, tmp_path):
    """With several data batches, strict mode applies clean pre-drift
    batches, stops exactly at the drifted one, and an evolve rerun resumes
    from the watermark to full convergence."""
    table_path = str(tmp_path / "t_strict_multi")
    with pytest.raises(SchemaDriftError):
        replay(spark, drift_log, table_path, n_buckets=4,
               n_data_batches=4, schema_drift="strict")
    wm = LakeTable.load(table_path).applied_upto_lsn
    assert wm > 0  # clean leading batches landed
    replay(spark, drift_log, table_path, n_buckets=4,
           n_data_batches=4, schema_drift="evolve")
    assert_converged(spark, table_path, _oracle_knowing_stars(drift_log))


def test_typeinfo_growth_warns_even_with_missing_datums(spark, tmp_path):
    """new_typeinfo (the decoderbufs wire's real schema channel,
    reference src/pg_logicaldec.proto:37-40,49) reporting MORE producer
    columns than the table schema warns even when the new column's datums
    are all missing (absent from new_tuple, so the key check can't see
    them)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logicaldecoding_spark.sources.proto import encode_row_message

    n_fields = len(REPOS_INITIAL_SCHEMA.fields)
    grown = [("text", True)] * (n_fields + 1)  # one more col than the schema
    row = {"repo": "r1", "path": "p1", "commit": "c" * 40,
           "lang": "py", "content": "x"}
    events = [
        (1, encode_row_message(txid=1, commit_time_us=1, op="B")),
        (2, encode_row_message(txid=1, commit_time_us=1, op="I",
                               table="repos", new=row, typeinfo=grown)),
        (3, encode_row_message(txid=1, commit_time_us=1, op="C")),
    ]
    log = str(tmp_path / "ti.parquet")
    pq.write_table(pa.table({
        "lsn": pa.array([e[0] for e in events], pa.int64()),
        "payload": pa.array([e[1] for e in events], pa.binary()),
    }), log)
    with pytest.warns(UserWarning, match="new_typeinfo"):
        replay(spark, log, str(tmp_path / "t_ti"), parse_mode="proto",
               n_buckets=2)


def test_drift_evolve_mor_mode(spark, drift_log, tmp_path):
    """Drift auto-evolution composes with merge-on-read: the evolved column
    lands in delta files, reconciliation NULL-fills pre-drift rows, and
    compaction preserves the converged state."""
    table_path = str(tmp_path / "t_mor")
    replay(spark, drift_log, table_path, n_buckets=4,
           schema_drift="evolve", merge_mode="mor")
    oracle = _oracle_knowing_stars(drift_log)
    assert_converged(spark, table_path, oracle)
    t = LakeTable.load(table_path)
    assert "stars" in {f.name for f in t.schema.fields}
    t.compact(spark)
    assert_converged(spark, table_path, oracle)


def test_drift_warn_mor_mode_is_loud(spark, drift_log, tmp_path):
    """The zero-extra-pass warn observation fires on the MoR write path too
    (deltas are written without a target read, but the observed frame is
    still consumed exactly once)."""
    table_path = str(tmp_path / "t_mor_warn")
    with pytest.warns(UserWarning, match="schema drift.*stars"):
        replay(spark, drift_log, table_path, n_buckets=4, merge_mode="mor")
    state, _ = replay_oracle(drift_log)
    assert_converged(spark, table_path, state)


def test_drift_evolve_streaming(spark, drift_log, tmp_path):
    """The live tail auto-evolves on drift too (the foreachBatch path uses
    the pre-merge check, not Observations): a mid-stream column with no R
    event converges with the knowing oracle across micro-batches."""
    from logicaldecoding_spark.generator import split_log_dir
    from logicaldecoding_spark.streaming.stream_replay import stream_replay

    log_dir = str(tmp_path / "drift_dir")
    split_log_dir(drift_log, log_dir, n_files=5, cut_mid_txn=True)
    table_path = str(tmp_path / "t_stream_evolve")
    q = stream_replay(
        spark, log_dir, table_path, str(tmp_path / "ckpt_evolve"),
        n_buckets=4, parse_mode="native", max_files_per_trigger=2,
        schema_drift="evolve",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert "stars" in {f.name for f in LakeTable.load(table_path).schema.fields}
    assert_converged(spark, table_path, _oracle_knowing_stars(drift_log))
