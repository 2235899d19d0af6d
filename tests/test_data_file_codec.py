"""Lake data files are written as zstd by every write path, and a table
whose older files are snappy reads, point-reads, merges, compacts and
time-travels exactly like a single-codec one (readers decode per file)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import logicaldecoding_spark.table.format as fmt
from logicaldecoding_spark.operators.merge import merge_into
from logicaldecoding_spark.operators.mv import MaterializedAggregate
from logicaldecoding_spark.plans.replay import replay
from logicaldecoding_spark.schema import REPOS_INITIAL_SCHEMA
from logicaldecoding_spark.table.format import (
    _RETRIEVE_FALLBACK,
    LakeTable,
    bucket_expr,
)


def _c(spark, rows):
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string,"
        " content string, op string, lsn long, seq int, txid long",
    )


def _codecs(path: str) -> set[str]:
    md = pq.ParquetFile(path).metadata
    return {
        md.row_group(i).column(j).compression
        for i in range(md.num_row_groups)
        for j in range(md.num_columns)
    }


def _data_files(root: str) -> set[str]:
    return {
        os.path.join(d, f)
        for d, _dirs, files in os.walk(root)
        for f in files if f.endswith(".parquet")
    }


def _manifest_codecs(t: LakeTable, meta: dict) -> set[str]:
    return set().union(*(
        _codecs(os.path.join(t.path, m["path"]))
        for m in meta["snapshot"]["manifest"]
    ))


def test_every_write_path_writes_zstd(spark, small_log, tmp_path):
    """COW replay, a MoR delta commit, compaction and an MV refresh each
    write new files, and every column chunk of every one is ZSTD."""
    log_path, _ = small_log
    seen: set[str] = set()

    def new_files(root: str) -> set[str]:
        now = _data_files(root)
        fresh = now - seen
        seen.update(now)
        assert fresh, root
        return fresh

    written = {}
    replay(spark, log_path, str(tmp_path / "replayed"), n_buckets=4)
    written["cow replay"] = new_files(str(tmp_path / "replayed"))

    t = LakeTable.create(str(tmp_path / "t"), REPOS_INITIAL_SCHEMA,
                         n_buckets=4)
    merge_into(spark, t, _c(spark, [
        (f"r{i}", f"p{i}", "c1", "py", f"x{i}", "I", i + 1, 0, 1)
        for i in range(20)
    ]), applied_upto_lsn=20, batch_id=0)
    written["cow merge"] = new_files(t.path)
    merge_into(spark, t, _c(spark, [
        (f"r{i}", f"p{i}", "c2", "rs", f"y{i}", "U", 30 + i, 0, 2)
        for i in range(5)
    ]), applied_upto_lsn=40, batch_id=1, mode="mor")
    written["mor delta"] = new_files(t.path)
    assert any(m.get("content") == "delta"
               for m in t.metadata()["snapshot"]["manifest"])
    t.compact(spark)
    written["compact"] = new_files(t.path)

    mv = MaterializedAggregate.create(
        str(tmp_path / "mv"), t, ["lang"], {"n": ("count", "*")},
        n_buckets=4)
    assert mv.refresh(spark)["refreshed"]
    written["mv refresh"] = new_files(mv.table.path)

    bad = {
        step: {os.path.basename(p): _codecs(p) for p in files
               if _codecs(p) != {"ZSTD"}}
        for step, files in written.items()
    }
    assert not any(bad.values()), bad


def test_mixed_codec_table_matches_oracle(spark, tmp_path, monkeypatch):
    """First commit snappy, later commits zstd: read, both retrieve paths,
    a COW merge over a snappy bucket, compaction and time travel to the
    all-snappy snapshot agree with the expected state."""
    t = LakeTable.create(str(tmp_path / "t"), REPOS_INITIAL_SCHEMA,
                         n_buckets=4)
    monkeypatch.setattr(fmt, "DATA_FILE_CODEC", "snappy")
    merge_into(spark, t, _c(spark, [
        (f"r{i}", f"p{i}", "c1", "py", f"x{i}", "I", i + 1, 0, 1)
        for i in range(40)
    ]), applied_upto_lsn=40, batch_id=0)
    v_snappy = t.version
    assert _manifest_codecs(t, t.metadata()) == {"SNAPPY"}
    state_snappy = {(f"r{i}", f"p{i}"): f"x{i}" for i in range(40)}
    monkeypatch.setattr(fmt, "DATA_FILE_CODEC", "zstd")

    keys = [(f"r{i}", f"p{i}") for i in range(40)]
    bucket = {
        (r["repo"], r["path"]): r["b"]
        for r in spark.createDataFrame(keys, "repo string, path string")
        .select("repo", "path", bucket_expr(4).alias("b")).collect()
    }
    # a zstd COW commit that rewrites one bucket, then a zstd MoR delta
    b0 = bucket[keys[0]]
    cow_keys = [k for k in keys if bucket[k] == b0][:3]
    merge_into(spark, t, _c(spark, [
        (*k, "c2", "py", f"y{k[0]}", "U", 100 + n, 0, 2)
        for n, k in enumerate(cow_keys)
    ]), applied_upto_lsn=130, batch_id=1)
    mor_keys = [k for k in keys if bucket[k] != b0][:4]
    merge_into(spark, t, _c(spark, [
        (*mor_keys[0], None, None, None, "D", 140, 0, 3),
        *((*k, "c3", "py", f"z{k[0]}", "U", 141 + n, 0, 3)
          for n, k in enumerate(mor_keys[1:])),
    ]), applied_upto_lsn=150, batch_id=2, mode="mor")
    expected = dict(state_snappy)
    expected.update({k: f"y{k[0]}" for k in cow_keys})
    expected.update({k: f"z{k[0]}" for k in mor_keys[1:]})
    del expected[mor_keys[0]]
    assert _manifest_codecs(t, t.metadata()) == {"SNAPPY", "ZSTD"}

    def check(expected):
        got = {(r["repo"], r["path"]): r["content"]
               for r in t.read(spark).collect()}
        assert got == expected
        for key in [*keys, ("nope", "p0")]:
            fast = t._retrieve_driver(key)
            assert fast is not _RETRIEVE_FALLBACK, key
            assert (fast["content"] if fast else None) == expected.get(key)
        with monkeypatch.context() as m:
            m.setattr(fmt, "RETRIEVE_DRIVER_MAX_FILES", 0)
            for key in keys[:12]:
                assert t._retrieve_driver(key) in (_RETRIEVE_FALLBACK, None)
                row = t.retrieve(spark, key)
                assert (row["content"] if row else None) == expected.get(key)

    check(expected)

    # a COW merge into a bucket that still holds a snappy file
    snappy_buckets = {
        m["bucket"] for m in t.metadata()["snapshot"]["manifest"]
        if _codecs(os.path.join(t.path, m["path"])) == {"SNAPPY"}
    }
    key = next(k for k in keys if bucket[k] in snappy_buckets)
    merge_into(spark, t, _c(spark, [
        (*key, "c4", "py", "w", "U", 160, 0, 4),
    ]), applied_upto_lsn=160, batch_id=3)
    expected[key] = "w"
    assert bucket[key] not in {
        m["bucket"] for m in t.metadata()["snapshot"]["manifest"]
        if _codecs(os.path.join(t.path, m["path"])) == {"SNAPPY"}
    }
    check(expected)

    t.compact(spark)
    assert _manifest_codecs(t, t.metadata()) == {"ZSTD"}
    check(expected)

    old = {(r["repo"], r["path"]): r["content"]
           for r in t.read_version(spark, v_snappy).collect()}
    assert old == state_snappy
