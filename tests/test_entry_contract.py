"""Driver-contract conformance: every queries() entry matches its DuckDB
oracle at sf0.01 (row count + schema names + order-insensitive values) —
a local replica of the driver's CORRECTNESS check."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    """Type-sensitive normalization replicating the driver's value hash.

    The driver compares pandas frames type-sensitively: DuckDB HUGEINT
    (e.g. sum(BIGINT) / list_sum) lands in pandas as float/object while
    Spark bigint lands as int — those must NOT compare equal here, or a
    locally-green query ships driver-red (that's how round 1's two red
    rows escaped; see ADVICE.md)."""
    import numpy as np
    import pandas as pd

    if not isinstance(v, (list, tuple, np.ndarray)) and pd.isna(v):
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return f"bool:{v}"
    if isinstance(v, (int, np.integer)):
        return f"int:{int(v)}"
    if isinstance(v, (float, np.floating)):
        return f"float:{float(v):.6f}"
    return f"{type(v).__name__}:{v}"


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 2


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR)
    spdf = sdf.toPandas()  # pandas path: same dtype coercion the driver sees
    if name not in ORACLES:
        # rows-only check (non-SQL-expressible op): must run and be non-trivial
        assert len(spdf) > 0, f"{name}: empty result"
        return
    _assert_matches_oracle(ddb, name, spdf)


@pytest.mark.parametrize(
    "name", ["t9_window_tumbling", "t10_sessionize", "q1_pricing_summary"])
def test_time_queries_ignore_session_zone(spark, ddb, name):
    """The timestamp leaves read TIMESTAMP_NTZ columns zone-free: under a
    non-UTC session zone they still equal their oracles, and the entry
    leaves the caller's zone as it found it."""
    from logicaldecoding_spark.session import conf_set

    zone = "spark.sql.session.timeZone"
    with conf_set(spark, zone, "America/Los_Angeles"):
        spdf = QUERIES[name](spark, SF_DIR).toPandas()
        assert spark.conf.get(zone) == "America/Los_Angeles"
        _assert_matches_oracle(ddb, name, spdf)


@pytest.mark.parametrize("name", ["t9_window_tumbling", "t10_sessionize"])
def test_time_queries_zone_free_across_dst(spark, tmp_path, name):
    """Event times inside and around America/Los_Angeles' 2024 DST changes
    (wall times that do not exist, or exist twice, in that zone) group and
    sessionize as the oracle's zone-less wall times do under that session
    zone: no expression converts them to instants through the session
    zone."""
    import pandas as pd

    from logicaldecoding_spark.session import conf_set

    times = [
        (1, "2024-03-10 01:45:00"), (1, "2024-03-10 03:10:00"),  # 85 min
        (2, "2024-11-03 00:50:00"), (2, "2024-11-03 01:50:00"),
        (2, "2024-11-03 02:10:00"),                               # 20 min
        (3, "2024-03-10 02:30:00"), (3, "2024-03-10 02:59:59.5"),
        (4, "2024-01-15 12:00:00"), (4, "2024-07-04 23:59:59"),
    ]
    ev = pd.DataFrame({
        "event_id": range(len(times)),
        "user_id": [u for u, _ in times],
        "event_type": ["click", "view"] * (len(times) // 2) + ["click"],
        "value": [0.5 * i for i in range(len(times))],
        "ts": pd.to_datetime([t for _, t in times], format="ISO8601"),
    })
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    ev.to_parquet(f"{sf}/events.parquet", index=False,
                  coerce_timestamps="us")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    with conf_set(spark, "spark.sql.session.timeZone", "America/Los_Angeles"):
        spdf = QUERIES[name](spark, sf).toPandas()
    _assert_matches_oracle(con, name, spdf)


def _assert_matches_oracle(ddb, name, spdf):
    scols = list(spdf.columns)
    dpdf = ddb.execute(ORACLES[name]).fetchdf()
    dcols = list(dpdf.columns)
    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(spdf) == len(dpdf), (
        f"{name}: row count {len(spdf)} vs oracle {len(dpdf)}"
    )
    a = _norm_rows(scols, spdf.itertuples(index=False, name=None))
    b = _norm_rows(dcols, dpdf.itertuples(index=False, name=None))
    mismatches = [(x, y) for x, y in zip(a, b) if x != y][:5]
    assert a == b, f"{name}: value mismatch, first diffs: {mismatches}"


def test_stamped_events_survive_block_eviction(spark, tmp_path):
    """The ``lsn`` stamp counts rows per range partition in one job and
    consumes them in another.  Evicting every cached block in between, with
    range sampling changed so a recompute would draw different bounds, must
    still yield the contiguous ``1..n`` in ``(ts, event_id)`` order."""
    import random

    import pandas as pd

    rng = random.Random(5)
    n = 4000
    ev = pd.DataFrame({
        "user_id": [rng.randrange(50) for _ in range(n)],
        "event_type": [rng.choice("abc") for _ in range(n)],
        "value": [rng.random() for _ in range(n)],
        "ts": pd.to_datetime(
            [rng.randrange(10**6) for _ in range(n)], unit="s"),
        "event_id": rng.sample(range(10 * n), n),
    })
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    ev.to_parquet(f"{sf}/events.parquet", index=False,
                  coerce_timestamps="us", allow_truncated_timestamps=True)

    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    before = spark.conf.get(key)
    seq, count = entry_mod._stamped_events(spark, sf)
    try:
        spark.catalog.clearCache()
        spark.conf.set(key, "1")
        got = {r["txid"]: r["lsn"] for r in seq.select("txid", "lsn").collect()}
    finally:
        spark.conf.set(key, before)
        entry_mod._SEQ_CACHE.pop(sf, None)
    order = ev.sort_values(["ts", "event_id"])["event_id"].tolist()
    assert count == n
    assert got == {eid: i + 1 for i, eid in enumerate(order)}
