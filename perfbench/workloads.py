"""The benchmark's workloads, driven through the package's public API.

Each workload has three steps: ``prepare`` builds or loads the seeded inputs
and their oracles (outside every timed window), ``warm`` runs the workload's
own query shapes once in the fresh session (part of ``setup_s``), and
``measure`` runs operations in a closed loop for the given seconds, with
seeded point reads between them, and checks every output against its
oracle.

In a traced run, ``measure`` alternates untraced and traced operations; the
traced ones run under the engine wrappers of ``tracing.py``.
"""

from __future__ import annotations

import importlib
import math
import os
import pkgutil
import shutil
import statistics
import tempfile
import time
from contextlib import contextmanager

import host
import inputs

LEAVES = (
    "a2_last_writer_wins", "q1_pricing_summary", "s5_props_parse",
    "dedup_exact", "text_quality", "knn_bruteforce", "dedup_minhash",
    "knn_lsh", "text_lang_id", "q5_local_supply", "t10_sessionize",
    "mv_incremental_agg",
)
_ENTRY_MEMOS = ("_SEQ_CACHE", "_LAKE_CACHE", "_MV_CACHE", "_WAP_CACHE",
                "_ZLAKE_CACHE")


class Outcome:
    """What ``measure`` hands back to the runner."""

    def __init__(self):
        self.work_s = 0.0                    # headline wall time
        self.untraced_walls: list[float] = []
        self.untraced_cpu: list[float] = []  # process-tree CPU s per op
        self.traced_walls: list[float] = []
        self.traced_roots: list[dict] = []   # root span of each traced op
        self.lookup_ms: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.table = None                    # LakeTable the reads served
        self.live_rows = 0
        self.events_per_op = 0
        self.record: dict = {}
        self.unwrapped: set[str] = set()     # boundaries the engine lacks
        self.tail: dict | None = None        # the stream tail's record

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 10:
                self.errors.append(what)


def _timed_loop(seconds: float, tracer):
    """Yield (index, traced) while the next operation, at the median length
    of those so far, still ends within ``seconds``.  At least one operation
    runs.  A traced run alternates untraced and traced operations, at least
    three: the first operation after warm-up still runs slower, so the
    tracing overhead compares the traced ones with the later untraced
    ones."""
    start = last = time.perf_counter()
    lengths: list[float] = []
    i = 0
    while (i < (3 if tracer else 1)
           or last - start + statistics.median(lengths) <= seconds):
        yield i, bool(tracer) and i % 2 == 1
        now = time.perf_counter()
        lengths.append(now - last)
        last = now
        i += 1


@contextmanager
def _engine_traced(tracer, out: Outcome):
    """Run the body under the engine wrappers when ``tracer`` is given."""
    if tracer is None:
        yield
        return
    from tracing import install_engine_wrappers

    out.unwrapped.update(install_engine_wrappers(tracer))
    try:
        yield
    finally:
        tracer.unwrap_all()


def _point_reads(spark, out: Outcome, table, lookups, n: int, expect) -> None:
    """The next ``n`` seeded ``retrieve()`` calls, each checked by
    ``expect``; reads are spread through the run, between operations."""
    for _ in range(n):
        key, want = lookups[len(out.lookup_ms) % len(lookups)]
        t = time.perf_counter()
        row = table.retrieve(spark, key)
        out.lookup_ms.append((time.perf_counter() - t) * 1e3)
        out.check(expect(row, want), f"retrieve{key}")


def _import_engine() -> None:
    """Import every module of the package on this thread.  Both warm-ups
    make the engine's first calls on more than one thread at once, and the
    engine imports lazily inside its functions; two threads importing the same
    circular package for the first time can raise ``_DeadlockError``
    (seen with ``logicaldecoding_spark.functions``, whose ``__init__``
    imports its submodules)."""
    import logicaldecoding_spark as pkg

    for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        importlib.import_module(m.name)


def live_bytes(table) -> int:
    meta = table.metadata()
    return sum(os.path.getsize(os.path.join(table.path, e["path"]))
               for e in meta["snapshot"]["manifest"])


# ---------------------------------------------------------------------------
# backfill_json
# ---------------------------------------------------------------------------
class BackfillJson:
    """Closed loop, one client: each operation is one ``replay()`` call
    that loads a fresh table from the seeded JSON-wire log.

    Before the replays, a short decoderbufs tail runs through
    ``stream_replay``: its preload is part of the set-up, then the remaining
    files are moved into the watched directory one at a time, and each
    file's freshness is timed up to the ``on_commit`` of the first snapshot
    that covers its last committed event."""

    n_txns = 30_000         # about 150k change events
    warm_txns = 3_000       # the cold warm-up replays a small log
    n_lookups = 300
    reads_per_op = 100
    tail_txns = 1_001       # about 5k events
    tail_cut = 2            # files: the preload and one tail file
    tail_grace_s = 45.0     # a file not committed by then counts as failed

    def prepare(self, work: str, seed: int) -> dict:
        rec = inputs.wal_log(work, seed, self.n_txns, self.n_lookups)
        rec["lookups"] = [(tuple(x["key"]), x["row"]) for x in rec["lookups"]]
        rec["warm_log"] = inputs.wal_log(work, seed, self.warm_txns,
                                         oracle=False)["path"]
        tail = inputs.wal_log(work, seed, self.tail_txns, wire="proto",
                              barriers=False)
        rec["tail"] = {"digest": tail["oracle_digest"],
                       "events": tail["data_events"],
                       "files": inputs.tail_files(work, tail, self.tail_cut)}
        # the run's own temp dir, removed at exit
        rec["tables"] = os.path.join(tempfile.gettempdir(), "tables")
        return rec

    def _replay(self, spark, prep: dict, log: str, name: str):
        """(table path, replay() result, wall s, process-tree CPU s)."""
        from logicaldecoding_spark.plans.replay import replay

        path = os.path.join(prep["tables"], name)
        shutil.rmtree(path, ignore_errors=True)
        c = host.tree_cpu_seconds(os.getpid())
        t = time.perf_counter()
        run = replay(spark, log, path)
        wall = time.perf_counter() - t
        return path, run, wall, host.tree_cpu_seconds(os.getpid()) - c

    def warm(self, spark, prep: dict) -> None:
        """The stream preload and one cold replay of a small log of the
        same shape.  The preload is the query's first micro-batch, which
        runs on the query's own thread while the replay runs here: both are
        mostly one-time work (code generation, JIT, Python workers), and
        overlapping them keeps the run within its time budget."""
        from logicaldecoding_spark.streaming.stream_replay import \
            stream_replay

        _import_engine()
        tail = prep["tail"]
        root = os.path.join(prep["tables"], "tail")
        staged, watch = os.path.join(root, "staged"), os.path.join(root, "watch")
        os.makedirs(staged)
        os.makedirs(watch)
        tail["staged"] = []
        for f in tail["files"]:
            dst = os.path.join(staged, os.path.basename(f["path"]))
            shutil.copy2(f["path"], dst)  # keeps the split's LSN-ordered mtimes
            tail["staged"].append(dst)
        first = tail["staged"][0]
        os.rename(first, os.path.join(watch, os.path.basename(first)))
        tail["table"] = os.path.join(root, "table")
        tail["commits"] = commits = []
        tail["query"] = q = stream_replay(
            spark, watch, tail["table"], os.path.join(root, "ckpt"),
            parse_mode="proto",
            on_commit=lambda versions, _epoch: commits.append(
                (time.perf_counter(), versions[tail["table"]])))
        tail["watch"] = watch

        path = self._replay(spark, prep, prep["warm_log"], "warm")[0]
        shutil.rmtree(path, ignore_errors=True)
        q.processAllAvailable()

    @staticmethod
    def _expect(row, want) -> bool:
        if row is None:
            return want is None
        d = row.asDict()
        key = (d["repo"], d["path"])
        return inputs.canonical_rows({key: d})[key] == want

    def _tail(self, spark, prep: dict, out: Outcome, tracer) -> dict:
        """The tail, closed loop with one client: move the next file into
        the watched directory once the previous one is committed.  Returns
        its record; failures count in ``out``."""
        from logicaldecoding_spark.table.format import LakeTable

        tail = prep["tail"]
        q, commits, files = tail["query"], tail["commits"], tail["files"][1:]
        n_progress = len(q.recentProgress)
        span_lo = len(tracer.spans) if tracer else 0
        # the query runs its jobs under its run id as the job group; the
        # preload's jobs are not the tail's
        preload_jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
            str(q.runId))
        fresh = []
        with _engine_traced(tracer, out):
            for i, (f, src) in enumerate(zip(files, tail["staged"][1:])):
                seen = len(commits)
                moved = time.perf_counter()
                os.rename(src, os.path.join(tail["watch"],
                                            os.path.basename(src)))
                when = None
                while when is None and \
                        time.perf_counter() < moved + self.tail_grace_s:
                    time.sleep(0.02)
                    if len(commits) != seen:  # look only when one landed
                        seen = len(commits)
                        when = self._covered(tail["table"], commits,
                                             f["max_lsn"])
                out.check(when is not None,
                          f"tail file {i + 1} not committed within "
                          f"{self.tail_grace_s} s")
                if when is None:
                    break
                fresh.append(when - moved)
                q.processAllAvailable()  # let the trigger report progress
            q.stop()
        table = LakeTable.load(tail["table"])
        progress = [p for p in q.recentProgress[n_progress:]
                    if p["numInputRows"] > 0]
        state = {(r["repo"], r["path"]): r.asDict()
                 for r in table.read(spark).collect()}
        out.check(inputs.state_digest(state) == tail["digest"],
                  f"tail table: {len(state)} rows, digest differs from the "
                  "oracle")
        rec = {
            "files": len(files), "events": tail["events"],
            "freshness_s": [round(x, 4) for x in fresh],
            "tail_freshness_p50_s": (round(statistics.median(fresh), 4)
                                     if fresh else None),
            "tail_freshness_hi_s": round(max(fresh), 4) if fresh else None,
            "micro_batches": len(progress),
            "add_batch_s": [p["durationMs"].get("addBatch", 0) / 1e3
                            for p in progress],
            "trigger_s": [p["durationMs"].get("triggerExecution", 0) / 1e3
                          for p in progress],
            "run_id": str(q.runId),
        }
        if tracer:
            rec["span_range"] = (span_lo, len(tracer.spans))
            rec["preload_jobs"] = sorted(preload_jobs)
        return rec

    @staticmethod
    def _covered(path: str, commits, lsn: int):
        """Time of the first commit whose snapshot's ``applied_upto_lsn``
        reaches ``lsn``, or None."""
        from logicaldecoding_spark.table.format import LakeTable

        upto = {h["version"]: h["applied_upto_lsn"]
                for h in LakeTable.load(path).history()}
        return next((t for t, v in commits if upto.get(v, -1) >= lsn), None)

    def measure(self, spark, prep: dict, seconds: float, tracer) -> Outcome:
        from logicaldecoding_spark.table.format import LakeTable

        out = Outcome()
        out.events_per_op = prep["data_events"]
        tail_rec = self._tail(spark, prep, out, tracer)
        decisions = []
        last = None
        for i, traced in _timed_loop(seconds, tracer):
            with _engine_traced(tracer if traced else None, out):
                if traced:
                    with tracer.span("replay") as root:
                        path, run, wall, _cpu = self._replay(
                            spark, prep, prep["path"], f"op{i}")
                    out.traced_walls.append(wall)
                    out.traced_roots.append(root)
                else:
                    path, run, wall, cpu = self._replay(
                        spark, prep, prep["path"], f"op{i}")
                    out.untraced_walls.append(wall)
                    out.untraced_cpu.append(cpu)
                table = LakeTable.load(path)
                state = {(r["repo"], r["path"]): r.asDict()
                         for r in table.read(spark).collect()}
                out.check(inputs.state_digest(state) == prep["oracle_digest"],
                          f"replay op{i}: {len(state)} rows, digest differs "
                          "from the oracle")
                _point_reads(spark, out, table, prep["lookups"],
                             self.reads_per_op, self._expect)
            snap = table.metadata()["snapshot"].get("metrics") or {}
            data = [b for b in run["batches"] if b.get("kind") == "data"]
            decisions.append({
                "wall_s": round(wall, 4), "traced": traced,
                "parse_mode": snap.get("parse_mode"),
                "compaction": [b.get("compaction") for b in data],
                "salt_buckets": [b.get("salt_buckets") for b in data],
                "proto_decoder": run.get("proto_decoder"),
                "batches": run["batches_applied"],
            })
            if last is not None:
                shutil.rmtree(last, ignore_errors=True)
            last, out.table, out.live_rows = path, table, len(state)

        out.work_s = statistics.median(out.untraced_walls)
        out.tail = tail_rec
        out.record = {"events": prep["data_events"],
                      "backfill_events_per_s": round(
                          prep["data_events"] / out.work_s, 1),
                      "log_rows": prep["rows"],
                      "oracle_rows": prep["oracle_rows"],
                      "replays": decisions,
                      "tail": {k: v for k, v in tail_rec.items()
                               if k not in ("span_range", "preload_jobs")}}
        return out


# ---------------------------------------------------------------------------
# query_leaves
# ---------------------------------------------------------------------------
class QueryLeaves:
    """Closed loop, one client: the 12 timed leaves of
    ``__spark_entry__.queries()`` in a fixed order, repeated; one
    operation is one pass."""

    n_lookups = 300
    reads_per_leaf = 25

    def prepare(self, work: str, seed: int) -> dict:
        import numpy as np

        data = inputs.leaf_data(work)
        oracles = inputs.leaf_oracles(work, data, LEAVES)
        # the events lake's final state is the last-writer-wins answer
        cols, rows = oracles["a2_last_writer_wins"]
        final = {}
        for r in rows:
            cell = dict(zip(cols, r))
            final[int(cell["user_id"].split(":", 1)[1])] = (
                cell["last_event_type"], cell["last_value"])
        lookups = [
            ((u,), final[u] if present else None)
            for u, present in inputs.zipf_lookups(
                np.random.default_rng(seed), sorted(final), self.n_lookups,
                lambda i: 10**9 + i)
        ]
        return {"data": data, "oracles": oracles,
                "lookups": lookups}

    @staticmethod
    def _reset(spark) -> None:
        """Forget the entry module's per-process memos and cached frames, so
        each leaf does its real work rather than a dict lookup."""
        import __spark_entry__ as entry

        for name in _ENTRY_MEMOS:
            getattr(entry, name, {}).clear()
        spark.catalog.clearCache()

    def _pass(self, spark, prep: dict, out: Outcome, tracer=None):
        import __spark_entry__ as entry

        q = entry.queries()
        times, cpu = {}, 0.0
        for name in LEAVES:
            self._reset(spark)
            c = host.tree_cpu_seconds(os.getpid())
            t = time.perf_counter()
            if tracer:
                with tracer.span(f"leaf.{name}"):
                    pdf = q[name](spark, prep["data"]).toPandas()
            else:
                pdf = q[name](spark, prep["data"]).toPandas()
            times[name] = time.perf_counter() - t
            cpu += host.tree_cpu_seconds(os.getpid()) - c
            out.check(inputs.normalize_frame(pdf) == prep["oracles"][name],
                      f"leaf {name} differs from its oracle")
            _point_reads(spark, out, prep["read_table"], prep["lookups"],
                         self.reads_per_leaf, self._expect)
        return times, cpu

    def warm(self, spark, prep: dict) -> None:
        """One cold run of every leaf, in three lanes so the one-time costs
        (Python worker start, code generation, JIT) overlap; the main
        thread runs a lane itself, keeping the run within four threads
        with the RSS sampler.  The events lake the MV leaf builds then
        serves the point reads."""
        from concurrent.futures import ThreadPoolExecutor

        import __spark_entry__ as entry
        from logicaldecoding_spark.dist import ship_package

        _import_engine()
        ship_package(spark)  # once, before the lanes race to register it
        q = entry.queries()

        def lane(names):
            for name in names:
                q[name](spark, prep["data"]).toPandas()

        lanes = [LEAVES[i::3] for i in range(3)]
        with ThreadPoolExecutor(max_workers=2) as ex:
            futures = [ex.submit(lane, names) for names in lanes[1:]]
            lane(lanes[0])
            for f in futures:
                f.result()
        lakes = getattr(entry, "_LAKE_CACHE", {})
        if prep["data"] not in lakes:
            raise RuntimeError("__spark_entry__._LAKE_CACHE holds no events "
                               "lake after mv_incremental_agg; the point "
                               "reads have no table")
        prep["read_table"] = lakes[prep["data"]][0]

    @staticmethod
    def _expect(row, want) -> bool:
        if want is None or row is None:
            return row is None and want is None
        d = row.asDict()
        return (f"str:{d['event_type']}" == want[0]
                and f"float:{round(d['value'], 4):.6f}" == want[1])

    def measure(self, spark, prep: dict, seconds: float, tracer) -> Outcome:
        import pyarrow.parquet as pq

        out = Outcome()
        out.events_per_op = pq.ParquetFile(
            os.path.join(prep["data"], "events.parquet")).metadata.num_rows
        per_leaf = {name: [] for name in LEAVES}
        pass_s = []  # the 12 timed leaf calls of a pass, summed
        for _i, traced in _timed_loop(seconds, tracer):
            with _engine_traced(tracer if traced else None, out):
                t = time.perf_counter()
                if traced:
                    with tracer.span("pass") as root:
                        self._pass(spark, prep, out, tracer)
                    out.traced_walls.append(time.perf_counter() - t)
                    out.traced_roots.append(root)
                else:
                    times, cpu = self._pass(spark, prep, out)
                    out.untraced_walls.append(time.perf_counter() - t)
                    out.untraced_cpu.append(cpu)
                    pass_s.append(sum(times.values()))
                    for name, secs in times.items():
                        per_leaf[name].append(secs)
        medians = {n: statistics.median(v) for n, v in per_leaf.items()}
        # like work_cpu_s, the pass is summed over its 12 leaf calls
        out.work_s = statistics.median(pass_s)
        out.table = prep["read_table"]
        out.live_rows = int(out.table.agg_stats(None)["rows"])
        out.record = {"leaf_median_s": {n: round(v, 4)
                                        for n, v in medians.items()},
                      "leaves_geomean_s": round(math.exp(statistics.fmean(
                          math.log(v) for v in medians.values())), 4)}
        return out


WORKLOADS = {"backfill_json": BackfillJson(), "query_leaves": QueryLeaves()}
