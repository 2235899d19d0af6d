"""logicaldecoding_spark — a PySpark-native CDC replay / incremental-ingest engine.

A from-scratch re-expression of the capabilities of the reference
``solomatovs/logicaldecoding`` (a Rust Postgres logical-replication consumer,
/root/reference) on Apache Spark:

* a captured WAL change-event log (decoderbufs-style events, flattened to
  Parquet) replaces the live replication socket
  (reference: src/replication.rs:75-141);
* vectorized parsing (JVM-side ``from_json`` on the JSON wire, Arrow
  batches on the protobuf wire) replaces per-message protobuf decode
  (reference: src/replication.rs:120-122);
* committed-transaction assembly is an anti-join on aborted txids (BEGIN
  without COMMIT) (reference: src/replication.rs:125-136);
* per-primary-key last-writer-wins compaction + a copy-on-write MERGE into an
  Iceberg-style table replaces the subscriber's in-memory ``HashMap`` apply
  loop (reference: src/types/mod.rs:39-168);
* correctness is checked the same way the reference checks it: a seeded
  deterministic generator plus a sequential oracle, asserted row-for-row equal
  to the engine's final state (reference: src/types/mod.rs:178-327).

Everything here is built on public Apache Spark / PySpark APIs only.
"""

__version__ = "0.1.0"
