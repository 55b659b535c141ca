"""milvus_cdc_spark — a from-scratch PySpark-native CDC / incremental-ingest
engine with the capabilities of mathpresso/milvus-cdc (reference at
/root/reference, studied for behavior only; no code copied).

Architecture (Spark-first, not a port):

- One ordered **changelog** table (parquet) carries both DML and DDL events
  — the analogue of the reference's MQ MsgPack stream + etcd watch
  (reference: core/reader/replicate_channel_manager.go:1169-1491 and
  core/reader/etcd_op.go:182-298).
- A driver-side **poll loop** tails the changelog through the WAL gate
  (``streaming/wal.py``), which applies its files in lsn order; each
  epoch is deduped per (conv_id, turn_idx) with monotonic (ts, op-rank,
  lsn) ordering and MERGEd into a snapshot table exactly once
  (epoch-idempotent commit). Kafka topics tail as a Structured Streaming
  query (``readStream`` + ``foreachBatch``).
- The target is a **SnapshotTable**: a Parquet + versioned-JSON-manifest
  table format providing atomic commits, snapshot ids, schema evolution,
  partition-drop watermarks and time travel. It is the local stand-in for
  an Iceberg table (no iceberg-spark-runtime jar ships in this sandbox);
  the apply logic is format-agnostic and would target ``MERGE INTO`` on a
  real Iceberg catalog unchanged.

Subpackages:
  sources/    changelog generator + readers (batch files, Kafka stream)
  plans/      snapshot table format (manifests, commit protocol, lineage)
  operators/  apply/merge core, document dedup family, similarity search
  functions/  vectorized column functions (text analysis, vector math)
  streaming/  the streaming engine + task CLI (create/pause/resume/status)
"""

__version__ = "0.1.0"
