"""Kafka changelog adapter contract tests (sources/kafka.py).

The sandbox has no broker, so the contract is pinned at the DataFrame
boundary the adapter deliberately exposes: ``decode_kafka_batch`` over a
synthetic wire-schema DataFrame (exactly the columns Spark's Kafka
source emits). This is the reference's MQ-subscribe path
(core/reader/stream_creator.go:39-159) re-expressed: broker I/O is the
connector's job; everything this engine owns — value decode, lsn/part
identity, malformed policy, apply — is exercised here for real.
"""

import json

import pytest
from pyspark.sql import functions as F

from milvus_cdc_spark import schemas as S
from milvus_cdc_spark.oracle import replay
from milvus_cdc_spark.plans.manifest import SnapshotTable
from milvus_cdc_spark.sources.changelog_gen import generate_changelog
from milvus_cdc_spark.sources.kafka import (
    KAFKA_WIRE_SCHEMA,
    decode_kafka_batch,
    encode_kafka_batch,
)
from milvus_cdc_spark.operators.apply import apply_batch


def _wire(spark, records):
    """records: (key, value, partition, offset, ts_ms) → wire DF."""
    from datetime import datetime, timezone

    rows = [
        (
            k.encode() if k is not None else None,
            v.encode() if isinstance(v, str) else v,
            "transcripts",
            part,
            off,
            datetime.fromtimestamp(ts_ms / 1000, tz=timezone.utc).replace(
                tzinfo=None
            ),
            0,
        )
        for (k, v, part, off, ts_ms) in records
    ]
    return spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)


def _native(lsn=None, ts_us=None, op="INSERT", **kw):
    d = {"op": op, **kw}
    if lsn is not None:
        d["lsn"] = lsn
    if ts_us is not None:
        d["ts_us"] = ts_us
    return json.dumps(d)


def test_native_decode_and_mq_identity_fallback(spark):
    """Payload lsn/part/ts win when present; otherwise the record's
    (offset, partition, broker timestamp) — the MQ's MsgID — fill in."""
    wire = _wire(
        spark,
        [
            # full payload identity
            ("c1", _native(lsn=7, ts_us=1_700_000_000_000_123, part=2,
                           conv_id="c1", turn_idx=1, role="user",
                           text="hi", tool=None), 0, 100, 1_700_000_001_000),
            # identity from the wire: lsn=(partition << 40) | offset,
            # part=partition, ts=broker
            ("c2", _native(op="UPSERT", conv_id="c2", turn_idx=3,
                           role="assistant", text="yo"), 1, 101,
             1_700_000_002_000),
        ],
    )
    got = {
        r["conv_id"]: r
        for r in decode_kafka_batch(wire).collect()
    }
    a = got["c1"]
    assert (a["lsn"], a["part"], a["op"]) == (7, 2, "INSERT")
    assert a["ts"].microsecond == 123
    b = got["c2"]
    assert (b["lsn"], b["part"], b["op"]) == ((1 << 40) | 101, 1, "UPSERT")
    from datetime import datetime, timezone

    want_ts = datetime.fromtimestamp(
        1_700_000_002, tz=timezone.utc
    ).replace(tzinfo=None)
    assert b["ts"] == want_ts  # broker timestamp fallback


def test_wire_lsn_unique_across_partitions(spark, tmp_path):
    """Two partitions at the same offset, no payload lsn: the fallback
    lsns differ, so the batch applies without tripping the duplicate-lsn
    gate. An offset past the 40-bit packing decodes with a null lsn."""
    ts = 1_700_000_000_000_000
    wire = _wire(
        spark,
        [
            ("c1", _native(conv_id="c1", turn_idx=1, text="a", ts_us=ts),
             0, 5, 0),
            ("c2", _native(conv_id="c2", turn_idx=1, text="b", ts_us=ts),
             1, 5, 0),
        ],
    )
    dec = decode_kafka_batch(wire)
    assert sorted(r["lsn"] for r in dec.collect()) == [5, (1 << 40) | 5]
    t = SnapshotTable(str(tmp_path / "kafka_parts_t"))
    t.create(S.TRANSCRIPTS_BASE_COLUMNS, n_buckets=2)
    res = apply_batch(spark, t, dec, epoch=0)
    assert res["n_events"] == 2
    assert sorted(r["conv_id"] for r in t.read(spark).collect()) == ["c1", "c2"]

    big = _wire(spark, [("c3", _native(conv_id="c3", turn_idx=1), 0, 1 << 40, 0)])
    assert decode_kafka_batch(big).collect()[0]["lsn"] is None


def test_decode_malformed_and_unknown_ops_route_to_poison_gate(
    spark, tmp_path
):
    """Garbage JSON and out-of-vocabulary ops must surface with null
    op+lsn (the malformed contract) — then apply_batch's dlq mode
    quarantines them while the clean row lands."""
    wire = _wire(
        spark,
        [
            ("c1", _native(conv_id="c1", turn_idx=1, role="user", text="ok",
                           ts_us=1_700_000_000_000_000), 0, 5, 0),
            ("c9", "{not json", 0, 6, 0),
            ("c9", _native(op="VECTOR_REINDEX", conv_id="c9", turn_idx=1),
             0, 7, 0),
        ],
    )
    dec = decode_kafka_batch(wire)
    rows = dec.collect()
    bad = [r for r in rows if r["op"] is None]
    assert len(bad) == 2 and all(r["lsn"] is None for r in bad)
    t = SnapshotTable(str(tmp_path / "kafka_poison_t"))
    t.create(S.TRANSCRIPTS_BASE_COLUMNS, n_buckets=2)
    res = apply_batch(spark, t, dec, epoch=0, on_malformed="dlq")
    assert res["n_dlq"] == 2
    assert [r["conv_id"] for r in t.read(spark).collect()] == ["c1"]


@pytest.mark.parametrize("multi", [False, True])
def test_encode_decode_roundtrip_applies_like_native_log(
    spark, tmp_path, multi
):
    """generate → encode to Kafka records → wrap in the wire schema →
    decode → apply ≡ sequential oracle. The payload carries the full
    (lsn, ts, part) identity, so wire offsets are immaterial here (the
    fallback path has its own test above). Proves a Kafka-fed task
    converges exactly like a file-fed one — DDL events included:
    ddl_arg rides the native value."""
    from datetime import datetime

    log = generate_changelog(
        spark, 600, ties_group=1, evolve=True, drops=True, num_partitions=2
    )
    if multi:
        log = log.withColumn("table_name", F.lit("transcripts"))
    enc = encode_kafka_batch(log)
    wire_rows = [
        (
            bytes(r["key"]) if r["key"] is not None else None,
            bytes(r["value"]),
            "transcripts",
            0,
            i,
            datetime(2020, 1, 1),
            0,
        )
        for i, r in enumerate(enc.collect())
    ]
    wire_df = spark.createDataFrame(wire_rows, KAFKA_WIRE_SCHEMA)
    dec = decode_kafka_batch(wire_df, multi_table=multi)
    if multi:
        assert dec.filter(F.col("table_name") != "transcripts").count() == 0
        dec = dec.drop("table_name")
    t = SnapshotTable(str(tmp_path / "t"))
    t.create(S.TRANSCRIPTS_BASE_COLUMNS, n_buckets=4)
    apply_batch(spark, t, dec, epoch=0)
    events = [r.asDict() for r in log.drop(
        *(["table_name"] if multi else [])
    ).orderBy("lsn").collect()]
    want_rows, cols = replay(events)
    got = sorted(
        tuple(r[c] for c in sorted(cols)) for r in t.read(spark).collect()
    )
    want = sorted(
        tuple(r.get(c) for c in sorted(cols)) for r in want_rows
    )
    assert got == want


def test_debezium_value_format_matches_file_decode(spark):
    """A Debezium envelope on the Kafka value column decodes identically
    to the same envelope in a JSON-lines file."""
    from milvus_cdc_spark.sources.debezium import _normalize, to_debezium

    log = generate_changelog(spark, 300, num_partitions=2).filter(
        F.col("op").isin("INSERT", "UPSERT", "DELETE")
    )
    env = to_debezium(log)  # one JSON string per event ('value' column)
    envs = [r["value"] for r in env.collect()]
    wire = _wire(spark, [(None, v, 0, i, 0) for i, v in enumerate(envs)])
    via_kafka = decode_kafka_batch(wire, value_format="debezium")
    via_file = _normalize(spark.createDataFrame([(v,) for v in envs],
                                                "value string"))
    key = lambda r: (r["lsn"], r["conv_id"], r["turn_idx"])
    a = sorted([tuple(r) for r in via_kafka.collect()], key=lambda x: x[0])
    b = sorted([tuple(r) for r in via_file.collect()], key=lambda x: x[0])
    assert a == b


def test_task_validation_and_registry_spec(spark, tmp_path):
    """source='kafka' plumbing: constructor validation + the CLI/registry
    spec round-trips kafka_options (broker-less: no start())."""
    from milvus_cdc_spark.streaming.engine import CdcTask
    from milvus_cdc_spark.streaming.registry import TaskRegistry

    with pytest.raises(ValueError, match="bootstrap_servers"):
        CdcTask(spark, "topic-a", str(tmp_path / "t"),
                str(tmp_path / "ck"), source="kafka")
    with pytest.raises(ValueError, match="kafka_options only"):
        CdcTask(spark, str(tmp_path / "log"), str(tmp_path / "t2"),
                str(tmp_path / "ck2"),
                kafka_options={"bootstrap_servers": "b:9092"})
    task = CdcTask(
        spark, "topic-a", str(tmp_path / "t3"), str(tmp_path / "ck3"),
        source="kafka",
        kafka_options={"bootstrap_servers": "b:9092",
                       "max_offsets_per_trigger": 1000},
    )
    assert task._gate is None  # WAL gate N/A: broker owns per-channel order
    reg = TaskRegistry(str(tmp_path / "tasks"))
    reg.create(
        "k1",
        {"log": "topic-a", "table": str(tmp_path / "t3"),
         "checkpoint": str(tmp_path / "ck3"), "source": "kafka",
         "kafka_options": {"bootstrap_servers": "b:9092",
                           "value_format": "debezium"}},
    )
    spec = reg.get("k1")
    assert spec["kafka_options"]["value_format"] == "debezium"
