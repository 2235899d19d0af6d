"""Incremental materialized aggregates over a LakeTable changelog (IVM).

The reference's downstream consumers re-aggregate their whole HashMap state
after every applied batch (/root/reference/src/types/mod.rs:64 keeps only the
raw per-key state; any rollup is a full recompute).  At 100 TB a full
re-aggregate per commit is the dominant cost, so this module maintains a
group-by aggregate *incrementally*: each ``refresh()`` reads ONLY the CDC-out
changelog between the MV's cursor and the source head
(``LakeTable.read_changes(include_preimages=True)`` — O(changed-bucket data))
and merges per-group deltas into a state table that is itself a
:class:`LakeTable` (so the MV gets snapshots, time travel, stats-pruned reads
and its own changelog for free).

Maintenance algebra (classic incremental view maintenance for distributive
aggregates):

* ``insert`` / ``update_postimage`` contribute +1, ``delete`` /
  ``update_preimage`` contribute −1 — preimages are what make the changelog
  invertible, which is why ``read_changes`` grew them.
* ``count(*)`` / ``count(col)`` / ``sum`` / ``avg`` fold as signed sums
  (``avg`` is stored as sum+count and divided at read time); a group whose
  live-row count reaches 0 disappears from the state.
* ``min`` / ``max`` are NOT invertible: a retraction of the current extremum
  cannot be repaired from the delta alone.  Groups touched only by inserts
  fold monotonically (``least``/``greatest``); groups that saw any
  retraction are RE-SCANNED from the source head (one semi-join against the
  full source read, restricted to those groups).  That rescan is the honest
  price of min/max under deletes — it is bounded by the number of retracted
  groups' rows, but the probe itself scans the source (the source is
  bucketed by ITS pk, not the group key, so file skipping cannot help); an
  MV without min/max aggs never pays it.

Exactly-once: the cursor (last folded source version) is committed in the
SAME snapshot as the folded state (``commit_data`` metrics), so a crash
between fold and commit replays the identical changelog onto the identical
prior state — deterministic, idempotent.  NULL group keys are grouped
SQL-style (one NULL group) via null-safe joins.
"""
from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import TableSchema
from ..session import local_frame
from ..table.fileio import FileIO, LocalFileIO
from ..table.format import LakeTable, bucket_expr

_FNS = {"count", "sum", "avg", "min", "max"}
# accumulator columns per agg fn: which internal state cols it needs
_NUMERIC = {"int", "long", "float", "double"}


def _sum_type(src_type: str) -> str:
    # exact accumulation for integral sources, double for floating
    return "double" if src_type in ("float", "double") else "long"


class MaterializedAggregate:
    """A group-by aggregate maintained incrementally from a source
    LakeTable's changelog.  Config is immutable (written once at
    ``create``); state lives in ``<path>/state`` as a LakeTable keyed by
    the group columns."""

    def __init__(self, path: str, io: FileIO | None = None):
        self.path = path
        self.io = io or LocalFileIO()
        cfg = json.loads(self.io.read_text(os.path.join(path, "mv.json")))
        self.source_path: str = cfg["source_path"]
        self.group_by: list[str] = cfg["group_by"]
        # out_name -> (fn, src_col);  src_col "*" only for count
        self.aggs: dict[str, tuple[str, str]] = {
            k: (v[0], v[1]) for k, v in cfg["aggs"].items()
        }
        self.table = LakeTable.load(os.path.join(path, "state"), io=self.io)

    # -- construction -------------------------------------------------------
    @staticmethod
    def create(
        path: str,
        source: LakeTable,
        group_by: list[str],
        aggs: dict[str, tuple[str, str]],
        n_buckets: int = 16,
        io: FileIO | None = None,
    ) -> "MaterializedAggregate":
        io = io or LocalFileIO()
        src_types = {f.name: f.type for f in source.schema.fields}
        src_null = {f.name: f.nullable for f in source.schema.fields}
        for g in group_by:
            if g not in src_types:
                raise ValueError(f"group column {g!r} not in source schema")
        cols: list[tuple[str, str, bool]] = [
            (g, src_types[g], src_null[g]) for g in group_by
        ]
        cols.append(("_n", "long", False))
        for out, (fn, col) in aggs.items():
            if fn not in _FNS:
                raise ValueError(f"unsupported agg fn {fn!r}")
            if fn == "count" and col == "*":
                continue  # served by _n
            if col not in src_types:
                raise ValueError(f"agg column {col!r} not in source schema")
            if fn != "count" and src_types[col] not in _NUMERIC:
                raise ValueError(
                    f"{fn}({col}): non-numeric type {src_types[col]!r}"
                )
            if fn == "count":
                cols.append((f"_cnt_{out}", "long", False))
            elif fn in ("sum", "avg"):
                cols.append((f"_sum_{out}", _sum_type(src_types[col]), True))
                cols.append((f"_cnt_{out}", "long", False))
            else:  # min / max
                cols.append((f"_ext_{out}", src_types[col], True))
        io.makedirs(path)
        LakeTable.create(
            os.path.join(path, "state"), TableSchema.initial(cols),
            pk=tuple(group_by), n_buckets=n_buckets, io=io,
        )
        io.write_text_atomic(
            os.path.join(path, "mv.json"),
            json.dumps({
                "source_path": source.path,
                "group_by": list(group_by),
                "aggs": {k: list(v) for k, v in aggs.items()},
            }, indent=1),
        )
        return MaterializedAggregate(path, io=io)

    @staticmethod
    def load(path: str, io: FileIO | None = None) -> "MaterializedAggregate":
        return MaterializedAggregate(path, io=io)

    # -- cursor -------------------------------------------------------------
    def cursor(self) -> int:
        """Last source version folded into the state (0 = nothing yet).
        Walks snapshots newest-first so interleaved maintenance commits on
        the state table (compaction, expiry) can't shadow the cursor."""
        self.table.metadata(refresh=True)
        for v in sorted(self.table._all_versions(), reverse=True):
            # raw metadata read: the cursor lives in snapshot metrics — no
            # manifest segments need materializing to find it
            m = self.table._load_meta_raw(v)["snapshot"].get("metrics", {})
            if "mv_source_version" in m:
                return int(m["mv_source_version"])
        return 0

    # -- refresh ------------------------------------------------------------
    def refresh(
        self, spark: SparkSession, to_version: int | None = None,
    ) -> dict:
        """Fold source changes ``(cursor, to_version]`` into the state.
        Returns ``{"refreshed", "cursor", "groups_written", "rescanned"}``.
        """
        src = LakeTable.load(self.source_path, io=self.io)
        head = src.version if to_version is None else int(to_version)
        cur = self.cursor()
        if head < cur:
            raise ValueError(f"to_version {head} behind cursor {cur}")
        if head == cur:
            return {"refreshed": False, "cursor": cur,
                    "groups_written": 0, "rescanned": 0}

        g = list(self.group_by)
        ch = src.read_changes(spark, cur, head, include_preimages=True)
        # the changelog is emitted under the TO-side schema: a tracked
        # source column renamed/dropped in (cursor, head] would otherwise
        # surface as a cryptic unresolved-column error mid-fold
        needed = set(g) | {
            c for (_fn, c) in self.aggs.values() if c != "*"
        }
        missing = sorted(needed - set(ch.columns))
        if missing:
            raise ValueError(
                f"source columns {missing} tracked by this materialized "
                "aggregate no longer exist at source version "
                f"{head} (renamed or dropped): recreate the MV against the "
                "new names — incremental state keyed by the old names "
                "cannot be folded forward"
            )
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        ch = ch.withColumn("_sign", sign)

        has_ext = any(fn in ("min", "max") for fn, _ in self.aggs.values())
        agg_exprs = [F.sum("_sign").alias("_d_n")]
        if has_ext:
            agg_exprs.append(
                F.max(F.when(F.col("_sign") < 0, 1).otherwise(0))
                .alias("_d_has_neg")
            )
        for out, (fn, col) in self.aggs.items():
            if fn == "count" and col == "*":
                continue
            if fn == "count":
                agg_exprs.append(
                    F.sum(F.when(F.col(col).isNotNull(), F.col("_sign"))
                          .otherwise(0)).alias(f"_d_cnt_{out}"))
            elif fn in ("sum", "avg"):
                agg_exprs.append(
                    F.sum(F.col("_sign") * F.col(col))
                    .alias(f"_d_sum_{out}"))
                agg_exprs.append(
                    F.sum(F.when(F.col(col).isNotNull(), F.col("_sign"))
                          .otherwise(0)).alias(f"_d_cnt_{out}"))
            else:
                mfn = F.min if fn == "min" else F.max
                agg_exprs.append(
                    mfn(F.when(F.col("_sign") > 0, F.col(col)))
                    .alias(f"_d_ext_{out}"))
        deltas = ch.groupBy(*g).agg(*agg_exprs).withColumn(
            "_mvb", bucket_expr(self.table.n_buckets, tuple(g))
        )
        # Small delta sets (the common rollup shape: one row per touched
        # group, group cardinality bounded) collect ONCE and drive the rest
        # of the refresh from the driver: touched buckets and min/max
        # rescan keys (both derivable from the delta rows alone) come for
        # free, and the fold joins a local relation (a JVM LocalTableScan:
        # no Python worker re-serializes the rows).  Measured with
        # `bench_extra.py mv` on the sf0.01 events lake, AQE stages
        # included: 5 Spark jobs for the first refresh and 12 for the
        # second (11 and 12 when the fold joined a pickled-list frame).
        # Above the bound the persist + probe path runs.
        deltas = deltas.persist()
        self._persists: list[DataFrame] = [deltas]
        d_rows = deltas.limit(1025).collect()
        small = len(d_rows) <= 1024
        try:
            if small:
                touched = sorted({int(r["_mvb"]) for r in d_rows})
                deltas = local_frame(spark, d_rows, deltas.schema)
                self._rescan_local = (
                    [r for r in d_rows if (r["_d_has_neg"] or 0) == 1]
                    if has_ext else []
                )
            else:
                self._rescan_local = None
                touched = sorted(
                    r["_mvb"]
                    for r in deltas.select("_mvb").distinct().collect()
                )  # bounded: <= state n_buckets rows
            src_meta = src._load_meta_version(head)
            wm = int(src_meta["snapshot"]["applied_upto_lsn"])
            if not touched:
                # metadata-only span (schema/spec evolution upstream):
                # advance the cursor with an empty commit
                self.table.commit_data(
                    [], set(), max(wm, self.table.applied_upto_lsn), head,
                    {"kind": "mv_refresh", "mv_source_version": head},
                )
                return {"refreshed": True, "cursor": head,
                        "groups_written": 0, "rescanned": 0}

            state = self.table.read(spark, buckets=touched).filter(
                bucket_expr(self.table.n_buckets, tuple(g)).isin(touched)
            )
            merged = self._fold(spark, state, deltas, src, head)
            merged = merged.withColumn(
                "_last_lsn", F.lit(wm).cast("long")
            ).withColumn(
                "_last_txid", F.lit(head).cast("long")
            ).withColumn(
                "_bucket", bucket_expr(self.table.n_buckets, tuple(g))
            ).repartition(max(len(touched), 1), "_bucket")
            new_files = self.table.write_data_files(merged, spark)
            n_rows = sum(f["rows"] for f in new_files)
            self.table.commit_data(
                new_files, self.table.replaced_entries(touched),
                max(wm, self.table.applied_upto_lsn), head,
                {"kind": "mv_refresh", "mv_source_version": head,
                 "groups_written": n_rows,
                 "buckets_touched": len(touched)},
            )
            return {"refreshed": True, "cursor": head,
                    "groups_written": n_rows,
                    "rescanned": getattr(self, "_last_rescans", 0)}
        finally:
            for df in self._persists:
                df.unpersist()

    def _fold(
        self, spark: SparkSession, state: DataFrame, deltas: DataFrame,
        src: LakeTable, head: int,
    ) -> DataFrame:
        """Full-outer merge of per-group deltas into prior state rows;
        min/max retractions route their groups through a source rescan."""
        g = list(self.group_by)
        s, d = state.alias("s"), deltas.alias("d")
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}")) for c in g],
        )
        j = s.join(d, cond, "full_outer")
        # either side's key tuple is whole (null-safe join) — coalesce
        # per-column resolves the present side, incl. legit-NULL keys
        keys = [F.coalesce(F.col(f"d.{c}"), F.col(f"s.{c}")).alias(c)
                for c in g]

        def z(col: str, side: str) -> F.Column:
            return F.coalesce(F.col(f"{side}.{col}"), F.lit(0))

        # underflow guard INSIDE the kept expression (a dropped assert
        # column would be pruned by Catalyst and never evaluate): a negative
        # live count means the changelog was replayed against diverged state
        n_expr = z("_n", "s") + z("_d_n", "d")
        n_new = F.when(n_expr >= 0, n_expr).otherwise(
            F.expr(
                "raise_error('mv state underflow: changelog folded against"
                " state that diverged from the cursor')"
            ).cast("long")
        ).alias("_n")
        acc_cols: list = []
        for out, (fn, col) in self.aggs.items():
            if fn == "count" and col == "*":
                continue
            if fn == "count":
                acc_cols.append(
                    (z(f"_cnt_{out}", "s") + z(f"_d_cnt_{out}", "d"))
                    .alias(f"_cnt_{out}"))
            elif fn in ("sum", "avg"):
                acc_cols.append(
                    (z(f"_sum_{out}", "s") + z(f"_d_sum_{out}", "d"))
                    .alias(f"_sum_{out}"))
                acc_cols.append(
                    (z(f"_cnt_{out}", "s") + z(f"_d_cnt_{out}", "d"))
                    .alias(f"_cnt_{out}"))
            else:
                fold = F.least if fn == "min" else F.greatest
                # least/greatest skip NULL sides -> monotone insert fold
                acc_cols.append(
                    fold(F.col(f"s._ext_{out}"), F.col(f"d._d_ext_{out}"))
                    .alias(f"_ext_{out}"))

        has_ext = any(fn in ("min", "max") for fn, _ in self.aggs.values())
        rescan_flag = (
            (F.coalesce(F.col("d._d_has_neg"), F.lit(0)) == 1)
            if has_ext else F.lit(False)
        )
        merged = j.select(
            *keys, n_new, *acc_cols, rescan_flag.alias("_rescan")
        ).filter(F.col("_n") > 0)

        self._last_rescans = 0
        if not has_ext:
            return merged.drop("_rescan")

        rl = getattr(self, "_rescan_local", None)
        if rl is not None:
            # delta rows were collected in refresh(): the rescan set (the
            # groups whose deltas carry a retraction) is known driver-side
            # with ZERO extra jobs, and the fold stays fully lazy into the
            # write.  This set is a superset of the old merged-side probe
            # (it may include groups extinct after the fold); the rescan
            # recompute yields no rows for those, so the result is
            # unchanged — only the in-list is slightly wider.
            key_rows = rl
            n_rescan = len(key_rows)
            self._last_rescans = n_rescan
            keep = merged.filter(~F.col("_rescan")).drop("_rescan")
            if n_rescan == 0:
                return keep
            rescan_keys = deltas.filter(
                F.coalesce(F.col("_d_has_neg"), F.lit(0)) == 1
            ).select(*g)
        else:
            # large delta set: persist and probe (one bounded job — the
            # limit(1025) collect materializes `merged` and yields the key
            # rows the in-list pruning needs; the exact count only matters
            # for the metric in the rare >1024 case)
            merged = merged.persist()
            self._persists.append(merged)
            rescan_keys = merged.filter("_rescan").select(*g)
            key_rows = rescan_keys.limit(1025).collect()
            n_rescan = len(key_rows)
            if n_rescan > 1024:
                n_rescan = rescan_keys.count()
            self._last_rescans = n_rescan
            keep = merged.filter(~F.col("_rescan")).drop("_rescan")
            if n_rescan == 0:
                return keep
        # retraction touched a min/max group: recompute those groups from
        # the source head (the only exact repair; see module docstring).
        # When the retracted key set is small and NULL-free, push it into
        # read(where=in-list) so the manifest column stats SKIP files that
        # provably hold none of those groups — on a source kept clustered
        # by the group columns (compact(sort_by=group) or cluster='zorder')
        # the rescan drops from O(source) to O(files holding those groups).
        # Multi-column groups push each column's in-list independently (a
        # superset of the key tuples); the semi-join below stays the exact
        # filter either way, and NULL keys fall back to the full scan
        # (stats comparisons can never prove a NULL row present).
        where = None
        if 0 < n_rescan <= 1024:
            # key_rows already collected above (bounded by the gate)
            where = []
            for c in g:
                vals = {r[c] for r in key_rows}
                if None not in vals and 0 < len(vals) <= 64:
                    where.append((c, "in", sorted(vals)))
            where = where or None
        src_head = src.read(
            spark, where=where,
            _meta_override=src._load_meta_version(head),
        )
        rk = rescan_keys.alias("rk")
        sh = src_head.alias("sh")
        rcond = reduce(
            lambda a, b: a & b,
            [F.col(f"sh.{c}").eqNullSafe(F.col(f"rk.{c}")) for c in g],
        )
        rs = sh.join(F.broadcast(rk) if n_rescan <= 100_000 else rk,
                     rcond, "left_semi")
        full_aggs = [F.count(F.lit(1)).alias("_n")]
        for out, (fn, col) in self.aggs.items():
            if fn == "count" and col == "*":
                continue
            if fn == "count":
                full_aggs.append(F.count(col).alias(f"_cnt_{out}"))
            elif fn in ("sum", "avg"):
                st = _sum_type(
                    {f.name: f.type for f in src.schema.fields}[col])
                full_aggs.append(
                    F.sum(F.col(col).cast(st)).alias(f"_sum_{out}"))
                full_aggs.append(F.count(col).alias(f"_cnt_{out}"))
            else:
                mfn = F.min if fn == "min" else F.max
                full_aggs.append(mfn(col).alias(f"_ext_{out}"))
        recomputed = rs.groupBy(*g).agg(*full_aggs)
        return keep.unionByName(recomputed.select(*keep.columns))

    # -- read ---------------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        """The aggregate under its user-facing names (SQL semantics: ``sum``
        / ``avg`` are NULL when a group has no non-null input)."""
        st = self.table.read(spark)
        outs = []
        for out, (fn, col) in self.aggs.items():
            if fn == "count" and col == "*":
                outs.append(F.col("_n").alias(out))
            elif fn == "count":
                outs.append(F.col(f"_cnt_{out}").alias(out))
            elif fn == "sum":
                outs.append(
                    F.when(F.col(f"_cnt_{out}") > 0, F.col(f"_sum_{out}"))
                    .alias(out))
            elif fn == "avg":
                outs.append(
                    F.when(
                        F.col(f"_cnt_{out}") > 0,
                        F.col(f"_sum_{out}").cast("double")
                        / F.col(f"_cnt_{out}"),
                    ).alias(out))
            else:
                outs.append(F.col(f"_ext_{out}").alias(out))
        return st.select(*self.group_by, *outs)
