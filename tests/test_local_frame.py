"""Driver-built frames (``session.local_frame``): driver rows become one
Arrow local relation the JVM owns, never a pickled RDD that Python workers
re-serialize on every execution.  The unit tests pin the row forms and the
fail-fast validation; the integration test runs the engine's driver-row
sites with ``createDataFrame`` refusing anything but an Arrow table."""

from __future__ import annotations

import contextlib

import pyarrow as pa
import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logicaldecoding_spark.operators.merge import merge_into
from logicaldecoding_spark.operators.mv import MaterializedAggregate
from logicaldecoding_spark.schema import REPOS_INITIAL_SCHEMA, TableSchema
from logicaldecoding_spark.session import conf_set, local_frame
from logicaldecoding_spark.table.format import LakeTable

from .util import assert_converged

SCHEMA = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("s", T.StringType()),
    T.StructField("d", T.DoubleType()),
])
COMPACTED = ("repo string, path string, commit string, lang string,"
             " content string, op string, lsn long, seq int, txid long")


@contextlib.contextmanager
def _no_jobs(spark, name):
    """Fails unless the block ran no Spark job in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert list(sc.statusTracker().getJobIdsForGroup(name)) == []


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_rows_nulls_and_row_inputs(spark):
    rows = [(1, "a", 0.5), (2, None, None), Row(k=3, s="c", d=1.5)]
    df = local_frame(spark, rows, SCHEMA)
    assert df.schema == SCHEMA
    assert [tuple(r) for r in df.orderBy("k").collect()] == [
        (1, "a", 0.5), (2, None, None), (3, "c", 1.5)]
    # dicts map by name, like createDataFrame
    got = local_frame(spark, [{"d": 2.0, "k": 4, "s": "x"}], SCHEMA).collect()
    assert tuple(got[0]) == (4, "x", 2.0)


def test_empty_rows_and_ddl_schema(spark):
    df = local_frame(spark, [], "a long, b string")
    assert df.schema.simpleString() == "struct<a:bigint,b:string>"
    assert df.collect() == []
    assert "LocalTableScan" in _plan(df)
    ddl = local_frame(spark, [(7, "x")], "a long, b string")
    assert ddl.collect() == [Row(a=7, b="x")]


def test_wrong_arity_or_type_raises_before_any_job(spark):
    with _no_jobs(spark, "local-frame-bad-rows"):
        # a column-wise build would zip the short row away silently
        with pytest.raises(PySparkValueError, match="LENGTH_MISMATCH"):
            local_frame(spark, [(1, "a", 0.5), (2, "b")], SCHEMA)
        with pytest.raises(PySparkTypeError):
            local_frame(spark, [("1", "a", 0.5)], SCHEMA)
        # createDataFrame would stringify it; Arrow refuses it
        with pytest.raises(pa.ArrowTypeError):
            local_frame(spark, [(1, 2, 0.5)], SCHEMA)
        with pytest.raises(PySparkValueError):
            local_frame(spark, [(None, "a", 0.5)], SCHEMA)  # non-nullable


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_plan_is_a_local_table_scan(spark, arrow):
    with conf_set(spark, "spark.sql.execution.arrow.pyspark.enabled", arrow):
        df = local_frame(spark, [(i, str(i), None) for i in range(10)],
                         SCHEMA)
        plan = _plan(df.groupBy().count())
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert df.count() == 10


def test_conf_set_restores_set_and_unset_values(spark):
    key = "spark.sql.requireAllClusterKeysForCoPartition"
    assert spark.conf.get(key, None) is None
    with conf_set(spark, key, "false"):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key, None) is None
    with conf_set(spark, "spark.sql.shuffle.partitions", "3"):
        with pytest.raises(RuntimeError):
            with conf_set(spark, "spark.sql.shuffle.partitions", "5"):
                raise RuntimeError("block failed")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"


def _two_pk_table(spark, path):
    t = LakeTable.create(path, REPOS_INITIAL_SCHEMA, n_buckets=4)
    merge_into(spark, t, local_frame(spark, [
        (f"r{i}", f"p{i}", "c1", "py", f"x{i}", "I", i + 1, 0, 1)
        for i in range(12)
    ], COMPACTED), applied_upto_lsn=12, batch_id=0)
    return t


def test_key_arity_fails_fast(spark, tmp_path):
    t = _two_pk_table(spark, str(tmp_path / "t"))
    with _no_jobs(spark, "lookup-key-arity"):
        with pytest.raises(ValueError, match=r"\('repo', 'path'\)"):
            t.retrieve(spark, ("r1",))
        with pytest.raises(ValueError, match=r"\('repo', 'path'\)"):
            t.lookup(spark, [("r1", "p1"), ("r2",)])
    assert t.retrieve_stats["spark"] == {"untypable key": 1}
    assert t.retrieve(spark, ("r1", "p1"))["commit"] == "c1"


def test_lookup_key_buckets_run_no_job(spark, tmp_path):
    """The key frame is a local relation, so its bucket hash folds into it
    on the driver: building the lookup runs no Spark job."""
    t = _two_pk_table(spark, str(tmp_path / "t"))
    with _no_jobs(spark, "lookup-key-buckets"):
        df = t.lookup(spark, [("r1", "p1"), ("r5", "p5")])
    assert sorted(r["repo"] for r in df.collect()) == ["r1", "r5"]


SRC_SCHEMA = TableSchema.initial([
    ("repo", "string", False), ("path", "string", False),
    ("lang", "string", True), ("stars", "long", True),
])
AGGS = {"n": ("count", "*"), "sum_stars": ("sum", "stars"),
        "min_stars": ("min", "stars"), "max_stars": ("max", "stars")}


def _recompute(spark, t, version):
    rows = t.read_version(spark, version).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("stars").alias("sum_stars"),
        F.min("stars").alias("min_stars"), F.max("stars").alias("max_stars"),
    ).collect()
    return {r["lang"]: r.asDict() for r in rows}


def test_engine_builds_no_python_list_frames(spark, small_log, small_oracle,
                                             tmp_path, monkeypatch):
    """Every engine path that turns driver rows into a frame still equals
    its oracle while ``createDataFrame`` refuses list, RDD and pandas
    input: a fresh-table replay (empty-manifest reads), an MV create and
    two refreshes (the second retracts a max, so the rescan runs), lookup
    and describe_files."""
    from logicaldecoding_spark.plans.replay import replay
    from logicaldecoding_spark.sql import describe_files

    real = SparkSession.createDataFrame

    def arrow_only(self, data, *a, **kw):
        if not isinstance(data, pa.Table):
            raise AssertionError(f"createDataFrame on {type(data).__name__}")
        return real(self, data, *a, **kw)

    monkeypatch.setattr(SparkSession, "createDataFrame", arrow_only)
    with pytest.raises(AssertionError, match="on list"):
        spark.createDataFrame([(1,)], "a long")

    log_path, _ = small_log
    replay(spark, log_path, str(tmp_path / "repos"), n_buckets=8,
           n_data_batches=3)
    assert_converged(spark, str(tmp_path / "repos"), small_oracle[0])

    src = LakeTable.create(str(tmp_path / "src"), SRC_SCHEMA,
                           pk=("repo", "path"), n_buckets=4)

    def apply(rows, lsn, bid):
        merge_into(spark, src, local_frame(
            spark, rows, "repo string, path string, lang string,"
            " stars long, op string, lsn long, txid long"),
            applied_upto_lsn=lsn, batch_id=bid)

    apply([(f"r{i}", "p", ("py", "go")[i % 2], i, "I", i + 1, 1)
           for i in range(20)], 20, 0)
    mv = MaterializedAggregate.create(str(tmp_path / "mv"), src, ["lang"],
                                      AGGS, n_buckets=4)
    apply([("r3", "p", "py", 40, "U", 30, 2),
           ("r21", "p", "rs", 5, "I", 31, 2)], 31, 1)
    mv.refresh(spark)
    apply([("r19", "p", None, None, "D", 40, 3)], 40, 2)  # go's max
    res = mv.refresh(spark)
    assert res["rescanned"] >= 1
    got = {r["lang"]: r.asDict() for r in mv.read(spark).collect()}
    want = _recompute(spark, src, src.version)
    assert {k: {c: v[c] for c in want[k]} for k, v in got.items()} == want
    assert want["go"]["max_stars"] == 17

    keys = [("r3", "p"), ("r19", "p"), ("r21", "p"), ("absent", "p")]
    live = {(r["repo"], r["path"]): r.asDict()
            for r in src.read(spark).collect()}
    got = {(r["repo"], r["path"]): r.asDict()
           for r in src.lookup(spark, keys).collect()}
    assert got == {k: live[k] for k in keys if k in live}
    assert len(got) == 2

    files = describe_files(spark, src).collect()
    man = src.metadata()["snapshot"]["manifest"]
    assert sorted((r["path"], r["bucket"], r["rows"]) for r in files) == \
        sorted((m["path"], m["bucket"], m["rows"]) for m in man)
