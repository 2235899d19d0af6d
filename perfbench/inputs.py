"""Benchmark inputs, cached under the work directory.

* ``wal_log``: a seeded change log in the ``bench_log_path`` shape (Zipf 1.2
  repo keys, 1-9 ops per transaction, 10% rollbacks, optionally the three
  schema barriers early in the log), on the JSON or the decoderbufs wire,
  plus the digest of the sequential oracle's final state and a seeded
  point-read key sample with the expected rows.  Cached by (seed, sizes).
* ``tail_files``: the same log cut into files at transaction boundaries,
  with each file's highest LSN, for the stream tail.
* ``leaf_data``: the fixed tables the 12 query leaves read, a copy of the
  sf0.01 test data described in the repository's TESTDATA.md (seed 42),
  kept as text beside this file and unpacked into the work directory.
  ``leaf_oracles`` caches their DuckDB answers by the oracle SQL and the
  table bytes.

Everything here runs outside the timed windows; a cache hit skips the
generator's host-wide flush and the oracle's Python replay.
"""

from __future__ import annotations

import base64
import hashlib
import json
import lzma
import os

import numpy as np
import pyarrow as pa

PACKED_LEAF_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "data", "sf0.01")
LEAF_TABLES = ("region", "nation", "customer", "orders", "lineitem",
               "events", "documents", "embeddings")


# ---------------------------------------------------------------------------
# canonical state form shared by the oracle digest and the engine-side checks
# ---------------------------------------------------------------------------
def canonical_rows(state: dict) -> dict:
    """{pk: stable string} of a (repo, path)-keyed state.  Rows get the
    oracle's ``content_sha256``; absent and NULL columns compare equal, as in
    ``oracle.diff_states`` (oracle rows folded before an ``add_column`` lack
    the key, engine rows carry NULL)."""
    from logicaldecoding_spark.oracle import state_with_hashes

    return {
        k: json.dumps({c: v for c, v in row.items() if v is not None},
                      sort_keys=True, default=repr)
        for k, row in state_with_hashes(state).items()
    }


def state_digest(state: dict) -> str:
    """sha256 over the sorted canonical rows of a state."""
    h = hashlib.sha256()
    for line in sorted(canonical_rows(state).values()):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def zipf_lookups(rng, keys: list, n: int, absent) -> list:
    """``n`` point-read keys as (key, present) pairs: nine in ten are
    present keys drawn Zipf(1.2) over a seeded rank order of ``keys``, the
    rest are ``absent(i)``, keys that were never written."""
    order = rng.permutation(len(keys))
    w = 1.0 / np.arange(1, len(keys) + 1) ** 1.2
    picks = rng.choice(len(keys), size=n, p=w / w.sum())
    return [(absent(i), False) if rng.random() < 0.10
            else (keys[order[picks[i]]], True) for i in range(n)]


# ---------------------------------------------------------------------------
# the change logs and their oracles
# ---------------------------------------------------------------------------
def _dump(path: str, obj) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


def wal_log(work: str, seed: int, n_txns: int, n_lookups: int = 0,
            wire: str = "json", barriers: bool = True,
            oracle: bool = True) -> dict:
    """Seeded log plus its oracle record (cached by seed and sizes)."""
    from logicaldecoding_spark.generator import SchemaChangeSpec, generate_log
    from logicaldecoding_spark.oracle import replay_oracle

    d = os.path.join(work, "inputs")
    os.makedirs(d, exist_ok=True)
    tag = (f"wal_{wire}_s{seed}_t{n_txns}_l{n_lookups}"
           f"_b{int(barriers)}_o{int(oracle)}")
    path = os.path.join(d, tag + ".parquet")
    rec_path = os.path.join(d, tag + ".oracle.json")
    if os.path.exists(path) and os.path.exists(rec_path):
        with open(rec_path) as f:
            return json.load(f)
    tmp = path + ".tmp"
    stats = generate_log(
        tmp,
        seed=seed,
        n_txns=n_txns,
        n_repos=max(200, n_txns // 100),
        paths_per_repo=50,
        content_min_reps=1,
        content_max_reps=6,
        schema_changes=[
            SchemaChangeSpec(n_txns // 100, "add_column", "size", "int"),
            SchemaChangeSpec(n_txns // 50, "add_column", "stars", "long"),
            SchemaChangeSpec(3 * n_txns // 100, "widen_type", "size", "long"),
        ] if barriers else [],
        payload_format=wire,
    )
    os.replace(tmp, path)
    rec = {"path": path, "data_events": stats["data_events"],
           "rows": stats["rows"]}
    if oracle:
        state, _schema = replay_oracle(path)
        canon = canonical_rows(state)
        rec["oracle_digest"] = state_digest(state)
        rec["oracle_rows"] = len(state)
        rec["lookups"] = [
            {"key": list(k), "row": canon[k] if present else None}
            for k, present in zipf_lookups(
                np.random.default_rng(seed + 7919), sorted(state), n_lookups,
                lambda i: (f"absent_repo_{i}", f"absent/{i}.txt"))
        ]
    _dump(rec_path, rec)
    return rec


def tail_files(work: str, log: dict, n_files: int) -> list[dict]:
    """``log`` cut into about ``n_files`` files at transaction boundaries
    (cached beside it): [{"path", "max_lsn", "rows"}] in LSN order, where
    ``max_lsn`` is the file's last committed data event, the watermark a
    snapshot reaches once the file is applied."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from logicaldecoding_spark.generator import split_log_dir

    out_dir = log["path"][:-len(".parquet")] + f"_files{n_files}"
    index = out_dir + ".json"
    if os.path.exists(index):
        with open(index) as f:
            return json.load(f)
    files = []
    for p in sorted(split_log_dir(log["path"], out_dir, n_files)):
        t = pq.read_table(p, columns=["lsn", "op", "committed"])
        data = t.filter(pc.and_(pc.is_in(t["op"], pa.array(["I", "U", "D"])),
                                t["committed"]))
        files.append({"path": p, "max_lsn": int(pc.max(data["lsn"]).as_py()),
                      "rows": t.num_rows})
    files.sort(key=lambda f: f["max_lsn"])
    _dump(index, files)
    return files


# ---------------------------------------------------------------------------
# the leaf tables and their oracles, the DuckDB twins from
# ``__spark_entry__.oracle_sql()``
# ---------------------------------------------------------------------------
def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def leaf_data(work: str) -> str:
    """The directory of the leaf tables.  They are kept as text, each
    parquet file xz-compressed and then base64-encoded
    (``<table>.parquet.xz.b64``), and unpacked into the work directory;
    every file is checked against ``SHA256SUMS`` on each run."""
    with open(os.path.join(PACKED_LEAF_DATA, "SHA256SUMS")) as f:
        want = {name: digest for digest, name in
                (line.split() for line in f if line.strip())}
    out = os.path.join(work, "data", "sf0.01")
    os.makedirs(out, exist_ok=True)
    for name, digest in sorted(want.items()):
        path = os.path.join(out, name)
        if os.path.exists(path) and _sha256(path) == digest:
            continue
        with open(os.path.join(PACKED_LEAF_DATA, name + ".xz.b64"), "rb") as f:
            raw = lzma.decompress(base64.b64decode(f.read()))
        if hashlib.sha256(raw).hexdigest() != digest:
            raise RuntimeError(f"{name}: the unpacked bytes do not match "
                               "SHA256SUMS")
        with open(path + ".tmp", "wb") as f:
            f.write(raw)
        os.replace(path + ".tmp", path)
    return out


def normalize_frame(pdf) -> list:
    """A pandas result as [sorted column names, sorted normalized rows],
    normalized exactly as ``tests/test_entry_contract.py`` compares them."""
    from tests.test_entry_contract import _norm_rows

    cols = list(pdf.columns)
    return [sorted(cols),
            [list(r) for r in _norm_rows(cols, pdf.itertuples(index=False,
                                                               name=None))]]


def leaf_oracles(work: str, data: str, leaves) -> dict:
    """{leaf: normalize_frame(duckdb result)} for the given leaves on the
    tables in ``data``, cached by the leaves' oracle SQL and the table
    bytes, so a changed oracle or table is recomputed rather than read
    stale."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    h = hashlib.sha256()
    for name in leaves:
        h.update(f"{name}\0{sql[name]}\0".encode())
    for t in LEAF_TABLES:
        h.update(_sha256(os.path.join(data, f"{t}.parquet")).encode())
    d = os.path.join(work, "inputs")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"leaf_oracles_{h.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        for t in LEAF_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{data}/{t}.parquet'")
        out = {name: normalize_frame(con.execute(sql[name]).fetchdf())
               for name in leaves}
    finally:
        con.close()
    _dump(path, out)
    return out
