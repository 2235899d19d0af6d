"""Driver-side point-read fast path (r6): retrieve() must answer from
pyarrow reads of the pruned file set — no Spark job — and agree exactly
with the Spark lookup plan on COW and MoR tables; plus the typed bloom
probe and small-commit footer-stats parity that share the round."""

import pytest

from logicaldecoding_spark.operators.merge import merge_into
from logicaldecoding_spark.schema import REPOS_INITIAL_SCHEMA, TableSchema
from logicaldecoding_spark.table.format import (
    _RETRIEVE_FALLBACK,
    LakeTable,
)


def _c(spark, rows):
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string,"
        " content string, op string, lsn long, seq int, txid long",
    )


@pytest.fixture()
def small_table(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), REPOS_INITIAL_SCHEMA,
                         n_buckets=4)
    merge_into(spark, t, _c(spark, [
        ("r1", "a", "c1", "py", "x", "I", 1, 0, 1),
        ("r1", "b", "c2", "py", "y", "I", 2, 0, 1),
        ("r2", "a", "c3", "rs", "z", "I", 3, 0, 2),
    ]), applied_upto_lsn=3, batch_id=0)
    merge_into(spark, t, _c(spark, [
        ("r1", "a", "c9", "py", "xx", "U", 5, 0, 3),   # update
        ("r2", "a", None, None, None, "D", 6, 0, 3),   # delete
    ]), applied_upto_lsn=6, batch_id=1)
    return t


def test_fast_path_equals_spark_path_cow(spark, small_table):
    t = small_table
    for key in (("r1", "a"), ("r1", "b"), ("r2", "a"), ("nope", "a")):
        fast = t._retrieve_driver(key)
        assert fast is not _RETRIEVE_FALLBACK, key
        slow = t.lookup(spark, [key]).collect()
        slow = slow[0] if slow else None
        assert (fast is None) == (slow is None), key
        if fast is not None:
            assert fast.asDict() == slow.asDict(), key
    # the updated key surfaces the post-update image; the deleted one is gone
    assert t._retrieve_driver(("r1", "a"))["commit"] == "c9"
    assert t._retrieve_driver(("r2", "a")) is None


def test_fast_path_equals_spark_path_mor(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), REPOS_INITIAL_SCHEMA,
                         n_buckets=4)
    merge_into(spark, t, _c(spark, [
        ("r1", "a", "c1", "py", "x", "I", 1, 0, 1),
        ("r2", "a", "c2", "py", "y", "I", 2, 0, 1),
    ]), applied_upto_lsn=2, batch_id=0)
    # MoR deltas: upsert one key, tombstone the other — readers reconcile
    merge_into(spark, t, _c(spark, [
        ("r1", "a", "c9", "py", "xx", "U", 4, 0, 2),
        ("r2", "a", None, None, None, "D", 5, 0, 2),
    ]), applied_upto_lsn=5, batch_id=1, mode="mor")
    for key in (("r1", "a"), ("r2", "a"), ("nope", "b")):
        fast = t._retrieve_driver(key)
        assert fast is not _RETRIEVE_FALLBACK, key
        slow = t.lookup(spark, [key]).collect()
        slow = slow[0] if slow else None
        assert (fast is None) == (slow is None), key
        if fast is not None:
            assert fast.asDict() == slow.asDict(), key
    assert t._retrieve_driver(("r1", "a"))["commit"] == "c9"
    assert t._retrieve_driver(("r2", "a")) is None  # tombstone wins


def test_fast_path_projects_renamed_columns(spark, small_table):
    t = small_table
    t.evolve_schema("rename_column", "commit", "commit_sha")
    got = t._retrieve_driver(("r1", "a"))
    assert got is not _RETRIEVE_FALLBACK and got is not None
    assert got["commit_sha"] == "c9"  # old files surface under the new name


def test_fast_path_falls_back_above_caps(spark, small_table, monkeypatch):
    import logicaldecoding_spark.table.format as fmt

    monkeypatch.setattr(fmt, "RETRIEVE_DRIVER_MAX_FILES", 0)
    assert small_table._retrieve_driver(("r1", "a")) is _RETRIEVE_FALLBACK
    # retrieve() still answers (Spark path) and agrees
    assert small_table.retrieve(spark, ("r1", "a"))["commit"] == "c9"


def test_typed_bloom_probe_does_not_false_refute(spark, tmp_path):
    """ADVICE r5 (medium): read(where=[(pk,'=',5.0)]) on a long pk column
    must return the matching rows — the bloom probe coerces the literal to
    the column's declared type instead of hashing its float rendering."""
    schema = TableSchema.initial(
        [("k", "long", False), ("v", "string", True)]
    )
    t = LakeTable.create(str(tmp_path / "t"), schema, pk=("k",), n_buckets=2)
    rows = spark.createDataFrame(
        [(5, "five", "I", 1, 0, 1), (6, "six", "I", 2, 0, 1)],
        "k long, v string, op string, lsn long, seq int, txid long",
    )
    merge_into(spark, t, rows, applied_upto_lsn=2, batch_id=0)
    assert [r["v"] for r in t.read(spark, where=[("k", "=", 5.0)]).collect()] \
        == ["five"]
    assert [r["v"] for r in t.read(spark, where=[("k", "=", 5)]).collect()] \
        == ["five"]
    # untypable literal: the bloom must ABSTAIN — Spark's residual filter
    # implicitly casts '5' to bigint and matches, so a false bloom
    # refutation would silently drop the row
    assert t.read(spark, where=[("k", "=", "5")]).count() == 1
    # fast path types its key the same way
    got = t._retrieve_driver((5.0,))
    assert got is not _RETRIEVE_FALLBACK and got["v"] == "five"


def test_spark_xxhash64_parity(spark):
    """The driver-side XXH64 twin must match F.xxhash64 bit-for-bit —
    it decides which bucket the fast path reads; a mismatch would return
    None for a live key."""
    import random
    import string

    from pyspark.sql import functions as F

    from logicaldecoding_spark.table.xxh64 import spark_xxhash64

    random.seed(11)
    strs = ["", "a", "repo00000", "src/m6/f48.py", "é漢字🚀" * 3, "x" * 100,
            *("".join(random.choices(string.printable,
                                     k=random.randint(0, 64)))
              for _ in range(100))]
    longs = [0, 1, -1, 42, 2**63 - 1, -2**63,
             *(random.randint(-2**63, 2**63 - 1) for _ in range(100))]

    def check(rows, schema, types):
        df = spark.createDataFrame(rows, schema)
        got = [r["h"] for r in
               df.select(F.xxhash64(*df.columns).alias("h")).collect()]
        exp = [spark_xxhash64(list(r), types) for r in df.collect()]
        assert got == exp, schema

    check([(s,) for s in strs], "s string", ["string"])
    check([(x,) for x in longs], "x long", ["long"])
    check([(float(x),) for x in
           (0.0, -0.0, 1.5, -2.75, float("nan"), float("inf"), 0.1)],
          "x double", ["double"])
    rows = [(random.choice(strs), random.choice(longs), random.choice(strs))
            for _ in range(200)]
    check(rows, "a string, b long, c string", ["string", "long", "string"])


def test_small_commit_driver_stats_match_distributed(spark, tmp_path,
                                                     monkeypatch):
    """The driver-side footer-stats path for small commits must produce
    byte-identical manifest entries to the distributed mapInPandas pass."""
    import logicaldecoding_spark.table.format as fmt

    def build(path, force_distributed):
        t = LakeTable.create(str(tmp_path / path), REPOS_INITIAL_SCHEMA,
                             n_buckets=4)
        if force_distributed:
            monkeypatch.setattr(fmt, "SMALL_COMMIT_MAX_FILES", 0)
        else:
            monkeypatch.setattr(fmt, "SMALL_COMMIT_MAX_FILES", 32)
        merge_into(spark, t, _c(spark, [
            ("r1", "a", "c1", "py", "x", "I", 1, 0, 1),
            ("r2", "b", "c2", "rs", "y", "I", 2, 0, 1),
        ]), applied_upto_lsn=2, batch_id=0)
        return t.metadata(refresh=True)["snapshot"]["manifest"]

    m_driver = build("t_driver", force_distributed=False)
    m_spark = build("t_spark", force_distributed=True)
    strip = lambda ms: sorted(  # noqa: E731
        [{k: v for k, v in m.items() if k != "path"} for m in ms],
        key=lambda m: m["bucket"],
    )
    assert strip(m_driver) == strip(m_spark)


def test_retrieve_probes_only_the_keys_bucket_across_specs(spark, tmp_path,
                                                          monkeypatch):
    """A point read filters the manifest to the key's bucket (under each
    live partition spec) before any stats or bloom probe: entries in other
    buckets cannot hold a version of an equality key.  On a MoR table whose
    spec grew while deltas were live, old-spec and new-spec entries both
    exist, and the fast path must still agree with ``lookup()``."""
    import logicaldecoding_spark.table.format as fmt

    t = LakeTable.create(str(tmp_path / "t"), REPOS_INITIAL_SCHEMA,
                         n_buckets=4)
    merge_into(spark, t, _c(spark, [
        (f"r{i}", f"p{i}", "c1", "py", f"x{i}", "I", i + 1, 0, 1)
        for i in range(40)
    ]), applied_upto_lsn=40, batch_id=0)
    merge_into(spark, t, _c(spark, [
        (f"r{i}", f"p{i}", "c2", "py", f"y{i}", "U", 100 + i, 0, 2)
        for i in range(10)
    ] + [(f"r{i}", f"p{i}", None, None, None, "D", 120 + i, 0, 2)
         for i in (20, 21)]), applied_upto_lsn=130, batch_id=1, mode="mor")
    t.evolve_partition_spec(16)
    merge_into(spark, t, _c(spark, [
        (f"r{i}", f"p{i}", "c3", "py", f"z{i}", "U", 200 + i, 0, 3)
        for i in (0, 1, 20, 30)
    ]), applied_upto_lsn=230, batch_id=2, mode="mor")
    manifest = t.metadata()["snapshot"]["manifest"]
    specs = t.partition_specs()
    assert {m.get("spec_id", 0) for m in manifest} == set(specs) == {0, 1}
    assert {m.get("content", "base") for m in manifest} == {"base", "delta"}

    keys = [(f"r{i}", f"p{i}") for i in range(40)] \
        + [("nope", "p0"), ("r1", "nope"), ("r99", "p99")]
    kdf = spark.createDataFrame(keys, "repo string, path string")
    want_bucket = {
        (r["repo"], r["path"]): {0: r["b0"], 1: r["b1"]}
        for r in kdf.select(
            "repo", "path",
            fmt.bucket_expr(specs[0]).alias("b0"),
            fmt.bucket_expr(specs[1]).alias("b1"),
        ).collect()
    }

    probed: list[str] = []
    real = fmt.entry_refutes

    def counting(entry, *a, **kw):
        probed.append(entry["path"])
        return real(entry, *a, **kw)

    monkeypatch.setattr(fmt, "entry_refutes", counting)
    for key in keys:
        in_bucket = {
            m["path"] for m in manifest
            if m["bucket"] == want_bucket[key][m.get("spec_id", 0)]
        }
        probed.clear()
        fast = t._retrieve_driver(key)
        assert set(probed) <= in_bucket, key
        assert len(probed) <= len(t.pk) * len(in_bucket), key
        assert fast is not _RETRIEVE_FALLBACK, key
        slow = t.lookup(spark, [key]).collect()
        slow = slow[0] if slow else None
        assert (fast is None) == (slow is None), key
        if fast is not None:
            assert fast.asDict() == slow.asDict(), key
    assert t._retrieve_driver(("r0", "p0"))["content"] == "z0"
    assert t._retrieve_driver(("r20", "p20"))["content"] == "z20"
    assert t._retrieve_driver(("r21", "p21")) is None
    assert t._retrieve_driver(("r5", "p5"))["content"] == "y5"
    assert t._retrieve_driver(("r35", "p35"))["content"] == "x35"
