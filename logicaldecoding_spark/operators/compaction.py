"""Per-primary-key last-writer-wins compaction.

The reference applies events sequentially, so the final value of a key is
simply the last committed event touching it
(/root/reference/src/types/mod.rs:64,119,162 — HashMap overwrite in arrival
order).  Distributed, that becomes an aggregation:

    groupBy(pk).agg(max_by(event_struct, (lsn, seq)))

``max_by`` with a struct ordering key gives lexicographic (lsn, seq) order —
the WAL total order re-established after shuffle (SURVEY §2.6 O1).  This is
deliberately an AGGREGATION, not a window: hash aggregation gets map-side
partial combine, so each hot key contributes at most one row per input
partition to the shuffle — the single biggest perf lever at 10^10 events
(turns the MERGE input from O(events) into O(distinct keys)).

For extreme skew (a Zipf-hot repo receiving a large share of all events),
``salt_buckets`` forces an explicit two-phase reduce:

    groupBy(pk, salt).max_by(...)   # salt = xxhash64(lsn) % B, uniform
    groupBy(pk).max_by(...)         # tiny: <= B rows per key

which bounds any single reducer's group size regardless of distribution —
the north_rule's "skew handled explicitly" requirement beyond what AQE does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import REPOS_PK


def last_writer_wins(
    changes: DataFrame,
    pk: tuple[str, ...] = REPOS_PK,
    order: tuple[str, ...] = ("lsn", "seq"),
    salt_buckets: int | None = None,
) -> DataFrame:
    """Reduce typed change rows to the winning (latest) event per key."""
    payload_cols = [c for c in changes.columns if c not in pk]
    event = F.struct(*payload_cols).alias("_e")
    key = F.struct(*[F.col(c) for c in order])

    if salt_buckets and salt_buckets > 1:
        salted = changes.withColumn(
            "_salt", F.pmod(F.xxhash64(*order), F.lit(salt_buckets))
        )
        phase1 = salted.groupBy(*pk, "_salt").agg(F.max_by(event, key).alias("_e"))
        phase2 = phase1.groupBy(*pk).agg(
            F.max_by(
                F.col("_e"),
                F.struct(*[F.col(f"_e.{c}") for c in order]),
            ).alias("_e")
        )
        return phase2.select(*pk, "_e.*")

    return (
        changes.groupBy(*pk).agg(F.max_by(event, key).alias("_e")).select(*pk, "_e.*")
    )


def winner_lsns(
    slim_changes: DataFrame,
    pk: tuple[str, ...] = REPOS_PK,
    order: tuple[str, ...] = ("lsn", "seq"),
    salt_buckets: int | None = None,
) -> DataFrame:
    """Phase 1 of slim compaction: the (unique) ``lsn`` of each key's winner.

    Input needs only pk + order columns — with the ``native`` parse mode,
    Catalyst prunes ``from_json`` down to exactly those fields, so this pass
    scans payloads but shuffles ~40 bytes/event instead of full tuples."""
    win = last_writer_wins(slim_changes, pk=pk, order=order, salt_buckets=salt_buckets)
    return win.select("lsn")


def last_writer_wins_slim(
    raw: DataFrame,
    slim_changes: DataFrame,
    parse_mode: str = "native",
    pk: tuple[str, ...] = REPOS_PK,
    order: tuple[str, ...] = ("lsn", "seq"),
    salt_buckets: int | None = None,
) -> DataFrame:
    """Shuffle- and parse-minimal last-writer-wins.

        pass 1: slim (pk, lsn, seq) aggregation -> winner lsns   (narrow shuffle)
        pass 2: broadcast-semi-join winner lsns against the RAW scan — the
                join key (lsn) needs no parsing, so only the O(keys) winning
                payloads are ever parsed with full tuples, and the big side
                is filtered map-side with no shuffle at all

    vs the full path this cuts shuffled bytes ~10x AND full-tuple parse work
    ~10x (compaction ratio).  The winner-lsn set is O(distinct keys per
    batch); beyond broadcast viability (~10^8 keys/batch) fall back to
    ``last_writer_wins`` or swap the broadcast for a bloom filter + exact
    re-reduce."""
    from ..sources.parse import parse_events

    winners = winner_lsns(slim_changes, pk=pk, order=order, salt_buckets=salt_buckets)
    winner_raw = raw.join(F.broadcast(winners), "lsn", "left_semi")
    return parse_events(winner_raw, mode=parse_mode)
