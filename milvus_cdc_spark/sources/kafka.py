"""Kafka changelog adapter: MQ records → CHANGELOG rows.

The reference's DML path IS an MQ subscribe from a seek position
(/root/reference/core/reader/stream_creator.go:39-159: Pulsar/Kafka
reader seeked to the checkpointed MsgID, feeding the replicate-channel
manager). This module is that front-end for Spark: a
``readStream.format("kafka")`` scan whose VALUE column decodes into the
same ``CHANGELOG_SCHEMA`` every other source produces, so the entire
engine — dedup, MERGE, DDL, DLQ, constraints, checkpoint/resume — runs
unmodified on a Kafka topic. Seek/resume is owned by the Structured
Streaming Kafka offsets in the checkpoint (the analogue of positions
persisted per pack, server/cdc_impl.go:844-873).

Two value formats:

- ``native``: one JSON document per change carrying the changelog fields
  (op/conv_id/turn_idx/payload/ddl_arg/extra, microsecond ``ts_us``).
  ``lsn`` defaults to ``(partition << 40) | offset`` and ``part`` to the
  Kafka partition when the payload doesn't carry them — (partition,
  offset) IS the MQ's native (channel, position) identity, exactly the
  reference's MsgID model, and packing both keeps the lsn unique across
  partitions (a bare offset repeats in every partition and trips the
  duplicate-lsn gate). An offset ≥ 2^40 does not fit the packing and
  decodes with a null lsn, which the malformed-event gate owns.
- ``debezium``: the standard Debezium envelope (sources/debezium.py) —
  point the adapter at a Debezium-Connect topic and the same decode the
  file source uses runs on the Kafka value column.

Ordering contract: Kafka guarantees per-partition order, which maps to
the reference's per-channel order — the engine's (ts, rank, lsn) lattice
makes anchor ops (INSERT/UPSERT/DELETE) convergent across partitions.
OP_PATCH requires total order (the WAL regime, streaming/wal.py): run
patch-carrying topics with a single partition or key-partition by
conv_id so each key's anchors and patches share a partition.

Everything is built-in JVM expressions (``from_json``/``to_json``);
decoding adds one parse projection in front of the unchanged apply plan.
Broker-less environments (like this sandbox) exercise the full decode
contract at the DataFrame boundary — ``decode_kafka_batch`` over a
synthetic wire-schema DataFrame — because the scan and the decode are
deliberately separate stages; the scan needs the spark-sql-kafka
connector on the cluster classpath at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from milvus_cdc_spark import schemas as S

#: the wire columns Spark's Kafka source emits (the contract the decode
#: stage consumes; tests synthesize this shape broker-less)
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), True),
    ]
)

# native value payload: the changelog row as JSON (ts as epoch micros —
# lossless at the engine's ordering precision)
NATIVE_VALUE_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), True),
        T.StructField("ts_us", T.LongType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("part", T.IntegerType(), True),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ddl_arg", T.StringType(), True),
        T.StructField(
            "extra", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("table_name", T.StringType(), True),
    ]
)


# wire-identity lsn: (partition << 40) | offset — 2^40 offsets per
# partition; the result stays far below the 10^21 lsn bound of the packed
# ord (operators/apply.py) for any real partition count
_OFFSET_BITS = 40
_OFFSET_SPAN = 1 << _OFFSET_BITS


def decode_kafka_batch(
    wire: DataFrame,
    value_format: str = "native",
    multi_table: bool = False,
) -> DataFrame:
    """Kafka wire rows → CHANGELOG_SCHEMA (MULTI_ with ``multi_table``).

    A value that fails to parse, or carries an op outside the engine's
    vocabulary, surfaces with null op+lsn+key — the malformed-event
    policy (apply_batch on_malformed fail/dlq) owns it; nothing is
    silently dropped at the decode stage.
    """
    if value_format not in ("native", "debezium"):
        raise ValueError(
            f"value_format must be 'native' or 'debezium', got "
            f"{value_format!r}"
        )
    if value_format == "debezium":
        from milvus_cdc_spark.sources.debezium import _normalize

        return _normalize(
            wire.withColumn("_v", F.col("value").cast("string")),
            value_col="_v",
            multi_table=multi_table,
        )
    p = F.from_json(F.col("value").cast("string"), NATIVE_VALUE_SCHEMA)
    known = p["op"].isin(*S.ALL_OPS)
    # op gate FIRST: an unparseable value (p null) or unknown op yields
    # null op AND null lsn/ts so the malformed gate judges it, instead of
    # the offset fallback manufacturing a plausible-looking half-row
    op = F.when(known, p["op"])
    wire_lsn = F.when(
        F.col("offset") < F.lit(_OFFSET_SPAN),
        F.shiftleft(F.col("partition").cast("long"), _OFFSET_BITS)
        .bitwiseOR(F.col("offset")),
    )
    cols = [
        F.when(known, F.coalesce(p["lsn"], wire_lsn)).alias("lsn"),
        F.when(
            known,
            F.coalesce(
                F.timestamp_micros(p["ts_us"]), F.col("timestamp")
            ),
        ).alias("ts"),
        F.coalesce(p["part"], F.col("partition"), F.lit(0)).alias("part"),
        op.alias("op"),
        p["conv_id"].alias("conv_id"),
        p["turn_idx"].alias("turn_idx"),
        p["role"].alias("role"),
        p["text"].alias("text"),
        p["tool"].alias("tool"),
        p["ddl_arg"].alias("ddl_arg"),
        p["extra"].alias("extra"),
    ]
    if multi_table:
        cols.append(p["table_name"].alias("table_name"))
    return wire.select(*cols)


def encode_kafka_batch(changelog: DataFrame) -> DataFrame:
    """Inverse of the native decode: changelog rows → (key, value) pairs
    ready for ``write.format("kafka")``. Key = conv_id so a keyed topic
    co-partitions each conversation's events (the per-channel ordering
    the reference relies on; null-keyed DDL rows broadcast round-robin,
    which is safe — DDL apply is idempotent and order-independent of DML
    at the manifest lattice)."""
    value = F.to_json(
        F.struct(
            F.col("lsn"),
            # cast: parquet-sourced changelogs surface ts as TIMESTAMP_NTZ
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.col("op"),
            F.col("part"),
            F.col("conv_id"),
            F.col("turn_idx"),
            F.col("role"),
            F.col("text"),
            F.col("tool"),
            F.col("ddl_arg"),
            F.col("extra"),
            *(
                [F.col("table_name")]
                if "table_name" in changelog.columns
                else []
            ),
        ),
        {"ignoreNullFields": "true"},
    )
    return changelog.select(
        F.col("conv_id").cast("binary").alias("key"),
        value.cast("binary").alias("value"),
    )


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    *,
    value_format: str = "native",
    multi_table: bool = False,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    options: dict | None = None,
) -> DataFrame:
    """Tail a Kafka topic as the engine's changelog stream — the one
    Structured Streaming source (pass ``source='kafka'`` to CdcTask /
    MultiCdcTask). ``max_offsets_per_trigger`` is the pacing knob (the
    analogue of the reference's bounded read channel, readChanLen: 10,
    doc/cdc-usage.md:81-82). Requires the spark-sql-kafka connector on
    the classpath; resume-from-checkpoint is the Kafka offset log in the
    streaming checkpoint."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        # a deleted/unreachable topic should pause the task with a
        # reason (reference pause-on-error), not silently read nothing
        .option("failOnDataLoss", "true")
    )
    if max_offsets_per_trigger:
        reader = reader.option(
            "maxOffsetsPerTrigger", str(max_offsets_per_trigger)
        )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return decode_kafka_batch(
        reader.load(), value_format=value_format, multi_table=multi_table
    )
