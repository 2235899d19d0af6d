"""Point reads from cached immutable table state: ``retrieve()`` reuses the
parsed metadata of the version the hint names and decoded data files on a
long-lived handle.  The tests compare ``retrieve`` with the Spark
``lookup()`` plan on the same handle across commits, MoR deltas, schema
evolution, refs, a small cache bound and files rewritten in place, and pin
what a warm read does not repeat: Parquet reads and metadata parses."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import logicaldecoding_spark.table.format as fmt
from logicaldecoding_spark.operators.merge import merge_into
from logicaldecoding_spark.schema import REPOS_INITIAL_SCHEMA
from logicaldecoding_spark.table.format import _RETRIEVE_FALLBACK, LakeTable


def _c(spark, rows):
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string,"
        " content string, op string, lsn long, seq int, txid long",
    )


def _ins(i, lsn, commit="c1", content=None):
    return (f"r{i}", f"p{i}", commit, "py", content or f"x{i}", "I", lsn,
            0, 1)


def _lookup(t, spark, key):
    rows = t.lookup(spark, [key]).collect()
    return rows[0].asDict() if rows else None


def _same(t, spark, key):
    """retrieve(key) on the driver path, checked against lookup(); returns
    the row as a dict (or None)."""
    before = t.retrieve_stats["driver"]
    got = t.retrieve(spark, key)
    assert t.retrieve_stats["driver"] == before + 1, (key, t.retrieve_stats)
    got = got.asDict() if got is not None else None
    assert got == _lookup(t, spark, key), key
    return got


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), REPOS_INITIAL_SCHEMA,
                         n_buckets=4)
    merge_into(spark, t, _c(spark, [_ins(i, i + 1) for i in range(20)]),
               applied_upto_lsn=20, batch_id=0)
    return t


def test_replayed_table_reads_on_driver_and_records_fallbacks(
        spark, tmp_path, small_log, monkeypatch):
    from logicaldecoding_spark.plans.replay import replay

    log, _ = small_log
    path = str(tmp_path / "replayed")
    replay(spark, log, path, n_buckets=8)
    t = LakeTable.load(path)
    state = {(r["repo"], r["path"]): r.asDict()
             for r in t.read(spark).collect()}
    for key, row in state.items():
        got = t.retrieve(spark, key)
        assert got is not None and got.asDict() == row, key
    assert t.retrieve(spark, ("nope", "nope")) is None
    stats = t.retrieve_stats
    assert stats["driver"] == len(state) + 1 and stats["spark"] == {}
    assert stats["cache_misses"] <= 8 < stats["cache_hits"]

    monkeypatch.setattr(fmt, "RETRIEVE_DRIVER_MAX_FILES", 0)
    key = next(iter(state))
    got = t.retrieve(spark, key)
    assert t.retrieve_stats["spark"] == {"too many files": 1}
    assert got.asDict() == _lookup(t, spark, key) == state[key]


def test_untypable_key_records_its_fallback(spark, table):
    assert table._retrieve_driver(("r1",)) is _RETRIEVE_FALLBACK  # arity
    assert table.retrieve(spark, ("r1", None)) is None
    assert table.retrieve_stats["spark"] == {"untypable key": 2}
    assert table.retrieve_stats["driver"] == 0


def test_other_handles_commits_update_then_delete(spark, table):
    reader = LakeTable.load(table.path)
    key = ("r3", "p3")
    assert _same(reader, spark, key)["commit"] == "c1"
    merge_into(spark, table, _c(spark, [
        ("r3", "p3", "c2", "py", "y3", "U", 30, 0, 2),
    ]), applied_upto_lsn=30, batch_id=1)
    assert _same(reader, spark, key)["commit"] == "c2"
    merge_into(spark, table, _c(spark, [
        ("r3", "p3", None, None, None, "D", 31, 0, 3),
    ]), applied_upto_lsn=31, batch_id=2)
    assert _same(reader, spark, key) is None
    # the writer's own handle follows its commits too
    assert _same(table, spark, key) is None
    assert _same(table, spark, ("r4", "p4"))["commit"] == "c1"


def test_mor_deltas_over_a_cached_base_file(spark, table):
    upd, gone = ("r1", "p1"), ("r2", "p2")
    for key in (upd, gone):
        assert _same(table, spark, key)["commit"] == "c1"
    cached = dict(table._decoded)
    merge_into(spark, table, _c(spark, [
        ("r1", "p1", "c9", "py", "xx", "U", 40, 0, 2),
        ("r2", "p2", None, None, None, "D", 41, 0, 2),
    ]), applied_upto_lsn=41, batch_id=1, mode="mor")
    hits = table.retrieve_stats["cache_hits"]
    assert _same(table, spark, upd)["commit"] == "c9"
    assert _same(table, spark, gone) is None  # tombstone wins
    # the base files stayed live and were served from the cache
    assert table.retrieve_stats["cache_hits"] > hits
    for rel, entry in cached.items():
        assert table._decoded[rel][1] is entry[1], rel


def test_projection_follows_schema_changes_between_reads(spark, table):
    key = ("r5", "p5")
    assert _same(table, spark, key)["lang"] == "py"
    table.evolve_schema("add_column", "stars", "long")
    got = _same(table, spark, key)
    assert got["stars"] is None and got["lang"] == "py"
    table.evolve_schema("rename_column", "commit", "commit_sha")
    got = _same(table, spark, key)
    assert got["commit_sha"] == "c1" and "commit" not in got
    table.evolve_schema("drop_column", "lang", None)
    assert "lang" not in _same(table, spark, key)
    # a re-added name is a new field id: the decoded file still holds the
    # old values, which must stay buried
    table.evolve_schema("add_column", "lang", "string")
    assert _same(table, spark, key)["lang"] is None
    assert list(_same(table, spark, key)) == [
        f.name for f in table.schema.fields] + ["_last_lsn", "_last_txid"]


def test_branch_handle_reads_its_own_head(spark, table):
    branch = table.create_branch("dev")
    key = ("r6", "p6")
    assert _same(branch, spark, key)["commit"] == "c1"
    merge_into(spark, branch, _c(spark, [
        ("r6", "p6", "c7", "py", "b6", "U", 50, 0, 2),
    ]), applied_upto_lsn=50, batch_id=1)
    reader = LakeTable.load(table.path, ref="dev")
    assert _same(reader, spark, key)["commit"] == "c7"
    assert _same(branch, spark, key)["commit"] == "c7"
    assert _same(table, spark, key)["commit"] == "c1"  # main unchanged


def test_small_cache_bound_holds_and_results_stay_equal(spark, tmp_path,
                                                        monkeypatch):
    t = LakeTable.create(str(tmp_path / "t"), REPOS_INITIAL_SCHEMA,
                         n_buckets=4)
    # one row decodes far larger than it compresses: its file cannot be
    # cached under the bound below and takes the filtered read
    merge_into(spark, t, _c(spark, [_ins(i, i + 1, content=f"{i:03d}" * 4000)
                                    for i in range(24)]
                            + [_ins(99, 99, content="z" * 400_000)]),
               applied_upto_lsn=99, batch_id=0)
    keys = [(f"r{i}", f"p{i}") for i in (*range(24), 99)]
    probe = LakeTable.load(t.path)
    for key in keys:
        probe.retrieve(spark, key)
    sizes = sorted(e[2] for e in probe._decoded.values())
    assert len(sizes) > 3 and sizes[-1] > 400_000 > sizes[-2]
    # room for two small files, never for three or for the big one
    bound = sum(sizes[:3]) - 1
    disk = max(os.path.getsize(os.path.join(t.path, m["path"]))
               for m in t.metadata()["snapshot"]["manifest"])
    assert disk < bound
    monkeypatch.setattr(fmt, "RETRIEVE_DRIVER_MAX_BYTES", bound)

    reader = LakeTable.load(t.path)
    real = LakeTable._decoded_file
    held = []

    def checked(self, *a, **kw):
        out = real(self, *a, **kw)
        held.append(sum(e[2] for e in self._decoded.values()))
        return out

    monkeypatch.setattr(LakeTable, "_decoded_file", checked)
    first = {key: _same(reader, spark, key) for key in keys}
    for key, got in first.items():
        assert got["content"] == (
            "z" * 400_000 if key[0] == "r99"
            else f"{int(key[0][1:]):03d}" * 4000)
    for key, got in first.items():  # every small file was evicted since
        assert reader.retrieve(spark, key).asDict() == got
    assert held and max(held) <= bound
    assert len(reader._decoded) <= 2
    # the small files rotate through a two-file cache: the second pass
    # decodes them again
    assert reader.retrieve_stats["cache_misses"] > len(sizes)


def test_file_rewritten_in_place_is_reread(spark, table):
    key = ("r7", "p7")
    assert _same(table, spark, key)["commit"] == "c1"
    (rel,) = table._decoded
    abs_path = os.path.join(table.path, rel)
    data = pq.read_table(abs_path)
    commits = ["c-rewritten-" + r if r == "r7" else c for r, c in zip(
        data.column("repo").to_pylist(), data.column("commit").to_pylist())]
    data = data.set_column(data.schema.get_field_index("commit"), "commit",
                           pa.array(commits))
    st = os.stat(abs_path)
    pq.write_table(data, abs_path, compression="zstd")
    # Hadoop's local filesystem checks a .crc sidecar that no longer fits
    crc = os.path.join(os.path.dirname(abs_path),
                       f".{os.path.basename(abs_path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    os.utime(abs_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    misses = table.retrieve_stats["cache_misses"]
    assert _same(table, spark, key)["commit"] == "c-rewritten-r7"
    assert table.retrieve_stats["cache_misses"] == misses + 1


def test_second_read_into_a_decoded_file_reads_no_parquet(spark, table,
                                                          monkeypatch):
    first = ("r8", "p8")
    assert _same(table, spark, first)["commit"] == "c1"
    (rel,) = table._decoded
    rows = pq.read_table(os.path.join(table.path, rel)).to_pylist()
    same_file = [(r["repo"], r["path"]) for r in rows]

    def boom(*a, **kw):
        raise AssertionError("parquet read on a warm point read")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    monkeypatch.setattr(pq, "read_table", boom)
    for key in same_file:
        got = table.retrieve(spark, key)
        assert got is not None and (got["repo"], got["path"]) == key
    assert table.retrieve_stats["cache_misses"] == 1


def test_metadata_parsed_once_per_version(spark, table, monkeypatch):
    parsed = []
    real = LakeTable._load_meta_raw

    def counting(self, version):
        parsed.append(version)
        return real(self, version)

    monkeypatch.setattr(LakeTable, "_load_meta_raw", counting)
    reader = LakeTable.load(table.path)

    def reads():
        parsed.clear()
        got = [reader.retrieve(spark, (f"r{i % 20}", f"p{i % 20}"))
               for i in range(50)]
        assert all(r is not None for r in got)
        return got

    v = reader.version
    reads()
    assert parsed == [v]
    merge_into(spark, table, _c(spark, [
        ("r1", "p1", "c2", "py", "y", "U", 60, 0, 2),
    ]), applied_upto_lsn=60, batch_id=1)
    got = reads()
    assert parsed == [table.version] and table.version != v
    assert got[1]["commit"] == "c2" and got[2]["commit"] == "c1"
    assert reader.retrieve_stats["driver"] == 100


def test_cache_bound_counts_decoded_bytes(tmp_path, monkeypatch):
    """A dictionary-encoded column decodes far larger than its footer's
    uncompressed page sizes: the bound applies to the decoded bytes."""
    path = tmp_path / "f.parquet"
    pq.write_table(pa.table({"k": list(range(100)),
                             "v": ["w" * 10_000] * 100}), path)
    md = pq.ParquetFile(path).metadata
    pages = sum(md.row_group(g).total_byte_size
                for g in range(md.num_row_groups))
    monkeypatch.setattr(fmt, "RETRIEVE_DRIVER_MAX_BYTES", 100_000)
    assert pages < 100_000 < 1_000_000
    t = LakeTable(str(tmp_path))
    stamp = (os.path.getsize(path), os.path.getmtime(path))
    assert t._decoded_file("f.parquet", str(path), stamp) is None
    assert not t._decoded
    rows = t._key_rows("f.parquet", stamp, ["k"], [7])
    assert rows == [{"k": 7, "v": "w" * 10_000}]
