"""Engine policy lints.

input_hint mandates vectorized pandas/Arrow UDFs only — no per-row Python
(`@F.udf` / RDD.map lambdas) anywhere in the engine (SURVEY §7 hard parts)."""

from __future__ import annotations

import ast
import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "logicaldecoding_spark")

ROW_UDF = re.compile(r"@F\.udf|F\.udf\(|functions\.udf\(|\budf\(lambda")
RDD_USE = re.compile(r"\.rdd\b|sparkContext\.parallelize\(.*\.map\(")
COLLECT_LOOP = re.compile(r"for .* in .*\.collect\(\).*:\s*\n\s+.*(join|union|merge)")


def _sources():
    for dirpath, _dirs, files in os.walk(PKG):
        if "__pycache__" in dirpath:
            continue
        for fn in files:
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                with open(p) as f:
                    yield p, f.read()


def test_no_row_at_a_time_python_udfs():
    bad = [p for p, src in _sources() if ROW_UDF.search(src)]
    assert not bad, f"row-at-a-time Python UDFs found in: {bad}"


def test_no_rdd_operators():
    bad = [p for p, src in _sources() if RDD_USE.search(src)]
    assert not bad, f"RDD-level code found in: {bad}"


def test_no_driver_side_data_loops():
    bad = [p for p, src in _sources() if COLLECT_LOOP.search(src)]
    assert not bad, f"driver-side collect loops found in: {bad}"


# Round-1 gap: `@F.pandas_udf` bodies passed the lint while iterating the
# Series row-by-row in Python (`for i, toks in enumerate(token_arrays)`),
# which is exactly the per-row path the input_hint bans — the Arrow batch
# boundary doesn't make the inner loop vectorized.  Flag the common per-row
# idioms inside any function decorated as a pandas UDF.
PER_ROW_IDIOMS = [
    re.compile(r"for\s+\w+(?:\s*,\s*\w+)?\s+in\s+enumerate\("),
    re.compile(r"\.iterrows\(\)"),
    re.compile(r"\.itertuples\("),
    re.compile(r"\.apply\(\s*lambda"),
    re.compile(r"for\s+\w+\s+in\s+zip\("),
]


def _pandas_udf_bodies(src: str):
    """Yield the source block of each pandas_udf-decorated function."""
    lines = src.split("\n")
    i = 0
    while i < len(lines):
        if "pandas_udf" in lines[i] and lines[i].lstrip().startswith("@"):
            indent = len(lines[i]) - len(lines[i].lstrip())
            j = i + 1
            while j < len(lines) and not lines[j].lstrip().startswith("def "):
                j += 1
            body = [lines[j]] if j < len(lines) else []
            j += 1
            while j < len(lines):
                s = lines[j]
                if s.strip() and (len(s) - len(s.lstrip())) <= indent:
                    break
                body.append(s)
                j += 1
            yield "\n".join(body)
            i = j
        else:
            i += 1


SEAM_FILES = ["table/format.py", "operators/merge.py"]
DIRECT_FS = re.compile(r"\b(?:os\.(?!path\b|path\.)|shutil\.|\bopen\()")


def test_format_uses_fileio_seam():
    """Table format + merge must route every filesystem touch through the
    FileIO seam (SURVEY §4.4) so an object-store IO can be dropped in;
    os.path.* (pure string ops) is the only allowed os usage."""
    bad = []
    for rel in SEAM_FILES:
        with open(os.path.join(PKG, rel)) as f:
            for ln, line in enumerate(f, 1):
                if DIRECT_FS.search(line):
                    bad.append(f"{rel}:{ln}: {line.strip()}")
    assert not bad, "direct filesystem calls outside FileIO:\n" + "\n".join(bad)


def test_no_per_row_loops_in_vectorized_udfs():
    bad = []
    for p, src in _sources():
        for body in _pandas_udf_bodies(src):
            for idiom in PER_ROW_IDIOMS:
                if idiom.search(body):
                    bad.append((p, idiom.pattern))
    assert not bad, f"per-row Python inside pandas UDF bodies: {bad}"


OWN_PACKAGE_IMPORT = re.compile(
    r"^\s*(?:from\s+\.|(?:from|import)\s+logicaldecoding_spark\b)", re.M)


def test_package_inits_import_nothing_from_their_package():
    """A package ``__init__`` that imports its own submodules can raise
    ``_DeadlockError`` when two threads make their first imports of the
    package at once; callers name the submodule instead."""
    bad = [p for p, src in _sources()
           if os.path.basename(p) == "__init__.py"
           and OWN_PACKAGE_IMPORT.search(src)]
    assert not bad, f"package __init__ imports from its own package: {bad}"


ENTRY = os.path.join(os.path.dirname(PKG), "__spark_entry__.py")


def _chain_ends_in_local_checkpoint(stmt: ast.stmt) -> bool:
    value = getattr(stmt, "value", None)
    return (isinstance(value, ast.Call)
            and isinstance(value.func, ast.Attribute)
            and value.func.attr == "localCheckpoint")


def test_monotonic_ids_are_checkpointed():
    """``monotonically_increasing_id`` depends on the partitioning it runs
    over, so a frame that carries it must be checkpointed, never merely
    persisted: evicted blocks would be recomputed over a different
    partitioning (e.g. freshly sampled range bounds) and the ids would
    silently change.  Every statement that calls it must be one chain that
    ends in ``localCheckpoint(...)``."""
    with open(ENTRY) as f:
        sources = [*_sources(), (ENTRY, f.read())]
    bad = []
    for p, src in sources:
        for stmt in ast.walk(ast.parse(src)):
            # simple statements only: a compound one holds its body's calls
            if not isinstance(stmt, ast.stmt) or hasattr(stmt, "body") \
                    or hasattr(stmt, "cases"):
                continue
            calls = any(
                isinstance(n, ast.Call) and (
                    getattr(n.func, "attr", None)
                    or getattr(n.func, "id", None)
                ) == "monotonically_increasing_id"
                for n in ast.walk(stmt)
            )
            if calls and not _chain_ends_in_local_checkpoint(stmt):
                bad.append(f"{os.path.relpath(p, os.path.dirname(PKG))}"
                           f":{stmt.lineno}")
    assert not bad, f"monotonically_increasing_id not checkpointed: {bad}"


SESSION = os.path.join(PKG, "session.py")
DRIVER_FRAME = re.compile(r"\bcreateDataFrame\(|\.parallelize\(")
CONF_SET = re.compile(r"\bconf\.set\(")


def _outside_session(pattern):
    return [f"{os.path.relpath(p, PKG)}:{ln}"
            for p, src in _sources() if p != SESSION
            for ln, line in enumerate(src.split("\n"), 1)
            if pattern.search(line)]


def test_driver_rows_become_frames_only_in_session():
    """Driver rows become a DataFrame only through ``session.local_frame``
    (an Arrow local relation).  ``createDataFrame`` on a Python list or
    ``parallelize`` builds a pickled RDD that Python workers re-serialize
    on every execution of the frame."""
    bad = _outside_session(DRIVER_FRAME)
    assert not bad, f"driver rows turned into frames outside session.py: {bad}"


def test_session_conf_changes_only_in_session():
    """An operator that sets a session conf leaks it into every later
    query of the caller's session; ``session.conf_set`` scopes the change
    to a block and restores the caller's value."""
    bad = _outside_session(CONF_SET)
    assert not bad, f"session conf set outside session.py: {bad}"


DUCKDB_IMPORT = re.compile(r"^\s*(import duckdb\b|from duckdb\b)", re.M)


def test_engine_does_not_import_duckdb():
    """The engine parses the JSON wire JVM-side (``from_json``) and nothing
    else: DuckDB is a test and oracle dependency only, so no engine module
    imports it."""
    bad = [os.path.relpath(p, PKG) for p, src in _sources()
           if DUCKDB_IMPORT.search(src)]
    assert not bad, f"engine modules import duckdb: {bad}"
