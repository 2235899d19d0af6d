"""Generated code is compiled once per session: the session's codegen cache
holds the engine's working set, so running the same work again compiles no
classes, and replay's run record says how many it compiled."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from logicaldecoding_spark.plans.replay import replay  # noqa: E402
from logicaldecoding_spark.session import (  # noqa: E402
    CODEGEN_CACHE_ENTRIES, codegen_compiles,
)

from .util import assert_converged  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def test_get_spark_sizes_codegen_cache(spark):
    assert CODEGEN_CACHE_ENTRIES == 2048
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048"


def _fresh_mv_leaf(spark) -> tuple[list, int]:
    """The mv_incremental_agg leaf from cleared entry memos and cached
    frames, as the benchmark runs it: (sorted rows, classes compiled)."""
    for memo in ("_SEQ_CACHE", "_LAKE_CACHE", "_MV_CACHE"):
        getattr(entry_mod, memo).clear()
    spark.catalog.clearCache()
    before = codegen_compiles(spark)
    rows = sorted(entry_mod.queries()["mv_incremental_agg"](spark, SF_DIR)
                  .collect())
    return rows, codegen_compiles(spark) - before


def test_repeated_leaf_compiles_no_classes(spark):
    """The MV leaf's lake build, create, two refreshes and read need more
    generated classes than Spark's default cache of 100 holds; with the
    session's cache a second run finds every one of them compiled."""
    first, _ = _fresh_mv_leaf(spark)
    second, compiled = _fresh_mv_leaf(spark)
    assert compiled == 0
    assert second == first


def test_replay_of_same_log_compiles_no_classes(spark, small_log,
                                                small_oracle, tmp_path):
    """A second replay of one log into a fresh table reuses every class the
    first compiled, and its run record says so."""
    log_path, _ = small_log
    oracle_state, _ = small_oracle
    runs = [replay(spark, log_path, str(tmp_path / f"t{i}"),
                   parse_mode="native", n_buckets=8) for i in range(2)]
    assert runs[1]["codegen"] == {"cache_entries": 2048,
                                  "classes_compiled": 0}
    assert runs[0]["codegen"]["cache_entries"] == 2048
    assert_converged(spark, str(tmp_path / "t1"), oracle_state)
