"""Debezium-envelope source adapter (sources/debezium.py): lossless
encode→decode round trip, op-code mapping (c/r/u/d), delete-by-before-
image, poison-message flow into the malformed policy, and a streaming
drain through CdcTask(source='debezium') matching the sequential oracle.
Reference analogue: the MQ replicate-message envelope the reference
consumes (core/api/replicate_msg.go:25-30) — Debezium is the public
standard for the same job."""

import json
import os

import pytest
from pyspark.sql import functions as F

from milvus_cdc_spark import schemas as S
from milvus_cdc_spark.oracle import replay
from milvus_cdc_spark.sources import generate_changelog
from milvus_cdc_spark.sources.debezium import read_debezium, to_debezium


def _collect_norm(df):
    cols = ["lsn", "ts", "part", "op", "conv_id", "turn_idx", "role",
            "text", "tool"]
    return sorted(tuple(r[c] for c in cols) for r in df.select(cols).collect())


def test_round_trip_is_lossless(spark, tmp_path):
    """encode→write text→read→normalize reproduces every DML row exactly,
    including microsecond ts precision (source.ts_us)."""
    log = generate_changelog(
        spark, 2000, n_parts=4, n_convs=40, turns_per_conv=10,
        num_partitions=4,
    ).filter(F.col("op").isin(*S.DML_OPS))
    jdir = str(tmp_path / "env")
    to_debezium(log).coalesce(2).write.mode("overwrite").text(jdir)
    back = read_debezium(spark, jdir)
    want = _collect_norm(log)
    got = _collect_norm(back)
    # DELETE rows: the envelope carries the before image (keys + payload
    # we happened to have); non-delete rows carry after. Either way the
    # normalized row must match the original changelog row.
    assert got == want


def test_op_codes_and_snapshot_read(spark):
    """c and r (snapshot read) both decode to INSERT; u → UPSERT;
    d → DELETE with the before image."""
    msgs = [
        json.dumps({
            "after": {"conv_id": "a", "turn_idx": 1, "role": "user",
                      "text": "hi", "tool": None},
            "source": {"lsn": 1, "ts_us": 1700000000000001, "partition": 2},
            "op": "c", "ts_ms": 1700000000000,
        }),
        json.dumps({
            "after": {"conv_id": "b", "turn_idx": 2, "role": "user",
                      "text": "snap", "tool": None},
            "source": {"lsn": 2, "ts_us": 1700000000000002, "partition": 0},
            "op": "r", "ts_ms": 1700000000000,
        }),
        json.dumps({
            "after": {"conv_id": "a", "turn_idx": 1, "role": "user",
                      "text": "hi2", "tool": "t"},
            "source": {"lsn": 3, "ts_us": 1700000000000003, "partition": 2},
            "op": "u", "ts_ms": 1700000000000,
        }),
        json.dumps({
            "before": {"conv_id": "b", "turn_idx": 2},
            "source": {"lsn": 4, "ts_us": 1700000000000004, "partition": 0},
            "op": "d", "ts_ms": 1700000000000,
        }),
    ]
    df = spark.createDataFrame([(m,) for m in msgs], "value string")
    from milvus_cdc_spark.sources.debezium import _normalize

    rows = {r.lsn: r for r in _normalize(df).collect()}
    assert rows[1].op == "INSERT" and rows[1].text == "hi"
    assert rows[2].op == "INSERT" and rows[2].text == "snap"
    assert rows[3].op == "UPSERT" and rows[3].tool == "t"
    assert rows[4].op == "DELETE" and rows[4].conv_id == "b"
    assert rows[4].turn_idx == 2 and rows[4].text is None
    # microsecond precision survives
    assert rows[1].ts.microsecond == 1
    # ts_ms fallback when ts_us missing
    no_us = json.dumps({
        "after": {"conv_id": "c", "turn_idx": 0, "role": "user",
                  "text": "x", "tool": None},
        "source": {"lsn": 5, "partition": 0},
        "op": "c", "ts_ms": 1700000000123,
    })
    r5 = _normalize(
        spark.createDataFrame([(no_us,)], "value string")
    ).collect()[0]
    assert r5.ts is not None and r5.ts.microsecond == 123000


def test_poison_messages_flow_into_malformed_policy(spark, tmp_path):
    """Garbage JSON and unknown op codes normalize to null-lsn rows —
    the engine's on_malformed policy owns them (fail raises, dlq
    quarantines) instead of silently dropping."""
    from milvus_cdc_spark.operators.apply import apply_batch
    from milvus_cdc_spark.plans.manifest import SnapshotTable
    from milvus_cdc_spark.sources.debezium import _normalize

    msgs = [
        json.dumps({
            "after": {"conv_id": "a", "turn_idx": 1, "role": "user",
                      "text": "ok", "tool": None},
            "source": {"lsn": 1, "ts_us": 1700000000000001, "partition": 0},
            "op": "c", "ts_ms": 1700000000000,
        }),
        "{this is not json",
        json.dumps({
            "after": {"conv_id": "x", "turn_idx": 1, "role": "user",
                      "text": "?", "tool": None},
            "source": {"lsn": 9, "ts_us": 1700000000000009, "partition": 0},
            "op": "z", "ts_ms": 1700000000000,  # unknown op
        }),
    ]
    batch = _normalize(spark.createDataFrame([(m,) for m in msgs],
                                             "value string"))
    t = SnapshotTable(str(tmp_path / "t"))
    t.create(S.TRANSCRIPTS_BASE_COLUMNS, n_buckets=4)
    with pytest.raises(ValueError, match="malformed"):
        apply_batch(spark, t, batch, 0)
    res = apply_batch(spark, t, batch, 0, on_malformed="dlq")
    assert res["n_dlq"] == 2 and res["n_events"] == 1
    state = {(r.conv_id, r.text) for r in t.read(spark).collect()}
    assert state == {("a", "ok")}


def test_streaming_drain_debezium_source(spark, tmp_path):
    """CdcTask(source='debezium') tails a JSONL dir end-to-end: final
    state equals the sequential oracle replay of the original changelog;
    checkpoint resume works across a second file arrival."""
    from milvus_cdc_spark.plans.manifest import SnapshotTable
    from milvus_cdc_spark.streaming.engine import CdcTask, FailProtect

    log = generate_changelog(
        spark, 1500, n_parts=4, n_convs=30, turns_per_conv=10,
        num_partitions=4,
    ).filter(F.col("op").isin(*S.DML_OPS))
    jdir = tmp_path / "env"
    half = 750
    to_debezium(log.filter(F.col("lsn") <= half)).coalesce(1).write.mode(
        "overwrite").text(str(jdir / "f0"))
    # flatten into loose .txt files the file stream tails
    import shutil
    os.makedirs(jdir, exist_ok=True)
    for f in os.listdir(jdir / "f0"):
        if f.startswith("part-"):
            shutil.move(str(jdir / "f0" / f), str(jdir / "a.json"))
    shutil.rmtree(jdir / "f0")

    task = CdcTask(spark, str(jdir), str(tmp_path / "t"),
                   str(tmp_path / "ck"), source="debezium",
                   max_files_per_trigger=1)
    assert task.drain_protected(FailProtect(), timeout_sec=180)

    # second file lands; a new task instance resumes from the checkpoint
    to_debezium(log.filter(F.col("lsn") > half)).coalesce(1).write.mode(
        "overwrite").text(str(jdir / "f1"))
    for f in os.listdir(jdir / "f1"):
        if f.startswith("part-"):
            shutil.move(str(jdir / "f1" / f), str(jdir / "b.json"))
    shutil.rmtree(jdir / "f1")
    task2 = CdcTask(spark, str(jdir), str(tmp_path / "t"),
                    str(tmp_path / "ck"), source="debezium",
                    max_files_per_trigger=1)
    assert task2.drain_protected(FailProtect(), timeout_sec=180)

    want, cols = replay([r.asDict() for r in log.collect()])
    got = task2.table.read(spark)
    scols = sorted(c for c in got.columns)
    want_set = sorted(
        tuple(r[c] for c in scols) for r in want
    )
    got_set = sorted(
        tuple(r[c] for c in scols) for r in got.collect()
    )
    assert got_set == want_set


def test_multi_table_envelope_routes_per_table(spark, tmp_path):
    """source.table rides the envelope; MultiCdcTask(source='debezium')
    routes per collection, and an envelope with no table lands in the
    task-level dlq."""
    from milvus_cdc_spark.plans.manifest import SnapshotTable
    from milvus_cdc_spark.streaming.engine import MultiCdcTask

    def msg(lsn, table, conv, text):
        return json.dumps({
            "after": {"conv_id": conv, "turn_idx": 0, "role": "user",
                      "text": text, "tool": None},
            "source": {"lsn": lsn, "ts_us": 1700000000000000 + lsn,
                       "partition": 0, "table": table},
            "op": "c", "ts_ms": 1700000000000,
        })

    msgs = [msg(1, "ta", "c1", "a"), msg(2, "tb", "c2", "b"),
            msg(3, None, "c3", "lost")]
    from milvus_cdc_spark.sources.debezium import _normalize

    batch = _normalize(
        spark.createDataFrame([(m,) for m in msgs], "value string"),
        multi_table=True,
    )
    root = str(tmp_path / "tables")
    task = MultiCdcTask(spark, str(tmp_path / "log"), root,
                        str(tmp_path / "ck"), on_malformed="dlq")
    task.apply_multi(batch, 0)
    for name, conv, text in (("ta", "c1", "a"), ("tb", "c2", "b")):
        got = {(r.conv_id, r.text) for r in
               SnapshotTable(os.path.join(root, name)).read(spark).collect()}
        assert got == {(conv, text)}, name
    q = spark.read.parquet(os.path.join(root, "_dlq", "epoch-0"))
    assert [(r.lsn, r._reason) for r in q.collect()] == [
        (3, "null table_name")
    ]


def test_schema_history_decodes_add_and_widen(spark, tmp_path):
    """Structured tableChanges diff → ADD/WIDEN events; the CREATE
    message emits nothing; a DROP message is ignored; '(n)' length
    suffixes and unknown type names degrade like the engine does."""
    from milvus_cdc_spark.sources.debezium import read_debezium_history

    def msg(lsn, typ, cols, tid='"db"."t1"'):
        return json.dumps({
            "source": {"lsn": lsn}, "ts_ms": 1700000000000,
            "ddl": "--", "tableChanges": [{
                "type": typ, "id": tid,
                "table": {"columns": [
                    {"name": n, "typeName": t, "position": i + 1}
                    for i, (n, t) in enumerate(cols)
                ]},
            }],
        })

    base = [("conv_id", "VARCHAR(64)"), ("turn_idx", "INT")]
    msgs = [
        msg(10, "CREATE", base),
        # one ALTER adds TWO columns -> lsn 20 and 21
        msg(20, "ALTER", base + [("score", "INT"), ("note", "CLOB")]),
        # widen turn_idx INT->BIGINT
        msg(30, "ALTER",
            [("conv_id", "VARCHAR(64)"), ("turn_idx", "BIGINT"),
             ("score", "INT"), ("note", "CLOB")]),
        msg(40, "DROP", []),
    ]
    d = tmp_path / "hist"
    os.makedirs(d)
    (d / "a.json").write_text("\n".join(msgs))
    rows = sorted(
        read_debezium_history(spark, str(d)).collect(), key=lambda r: r.lsn
    )
    assert [(r.lsn, r.op, r.ddl_arg) for r in rows] == [
        (20, "ADD_COLUMN", '{"column":"note","type":"string"}'),
        (21, "ADD_COLUMN", '{"column":"score","type":"int"}'),
        (30, "WIDEN_COLUMN", '{"column":"turn_idx","type":"bigint"}'),
    ]
    # CLOB (unknown) degraded to string; VARCHAR(64) suffix stripped so
    # conv_id's type never "changed"; the in-statement ordinal is
    # deterministic (ordered by ddl_arg)


def test_schema_history_decodes_removed_column_as_drop(spark, tmp_path):
    """A name present in the previous state but missing from the new one
    becomes OP_DROP_COLUMN; a rename therefore surfaces as the DROP(old) +
    ADD(new) pair (values don't carry — the retirement contract; the
    native changelog's OP_RENAME_COLUMN is the value-preserving path)."""
    from milvus_cdc_spark.sources.debezium import read_debezium_history

    def msg(lsn, typ, cols):
        return json.dumps({
            "source": {"lsn": lsn}, "ts_ms": 1700000000000,
            "ddl": "--", "tableChanges": [{
                "type": typ, "id": '"db"."t1"',
                "table": {"columns": [
                    {"name": n, "typeName": t, "position": i + 1}
                    for i, (n, t) in enumerate(cols)
                ]},
            }],
        })

    msgs = [
        msg(10, "CREATE", [("conv_id", "VARCHAR(64)"), ("tool", "TEXT")]),
        # plain column drop
        msg(20, "ALTER", [("conv_id", "VARCHAR(64)")]),
        # upstream rename conv_id->cid: DROP(conv_id) + ADD(cid)
        msg(30, "ALTER", [("cid", "VARCHAR(64)")]),
    ]
    d = tmp_path / "hist"
    os.makedirs(d)
    (d / "a.json").write_text("\n".join(msgs))
    rows = sorted(
        read_debezium_history(spark, str(d)).collect(), key=lambda r: r.lsn
    )
    assert [(r.lsn, r.op, r.ddl_arg) for r in rows] == [
        (20, "DROP_COLUMN", '{"column":"tool"}'),
        (30, "ADD_COLUMN", '{"column":"cid","type":"string"}'),
        (31, "DROP_COLUMN", '{"column":"conv_id"}'),
    ]


def test_schema_history_multi_table_routing(spark, tmp_path):
    """multi_table=True surfaces the bare table name from the quoted id;
    diffs are per-table (same column set in two tables doesn't alias)."""
    from milvus_cdc_spark.sources.debezium import read_debezium_history

    def msg(lsn, tid, cols):
        return json.dumps({
            "source": {"lsn": lsn}, "ts_ms": 1700000000000,
            "ddl": "--", "tableChanges": [{
                "type": "ALTER" if lsn > 15 else "CREATE", "id": tid,
                "table": {"columns": [
                    {"name": n, "typeName": t, "position": i + 1}
                    for i, (n, t) in enumerate(cols)
                ]},
            }],
        })

    msgs = [
        msg(10, '"db"."ta"', [("a", "INT")]),
        msg(11, '"db"."tb"', [("a", "INT")]),
        msg(20, '"db"."ta"', [("a", "INT"), ("x", "BIGINT")]),
        msg(21, '"db"."tb"', [("a", "BIGINT")]),
    ]
    d = tmp_path / "hist"
    os.makedirs(d)
    (d / "a.json").write_text("\n".join(msgs))
    rows = sorted(
        read_debezium_history(spark, str(d), multi_table=True).collect(),
        key=lambda r: r.lsn,
    )
    assert [(r.lsn, r.table_name, r.op) for r in rows] == [
        (20, "ta", "ADD_COLUMN"),
        (21, "tb", "WIDEN_COLUMN"),
    ]


def test_schema_history_round_trip_through_engine(spark, tmp_path):
    """to_debezium_history(engine DDL) -> read_debezium_history -> the
    SAME logical events; applied through apply_batch the table gains the
    column and the widened type."""
    from datetime import datetime

    from milvus_cdc_spark.operators.apply import apply_batch
    from milvus_cdc_spark.plans.manifest import SnapshotTable
    from milvus_cdc_spark.sources.debezium import (
        read_debezium_history,
        to_debezium_history,
    )

    ts0 = datetime(2024, 1, 1)
    ddl = [
        {"lsn": 101, "ts": ts0, "op": S.OP_ADD_COLUMN,
         "ddl_arg": '{"column":"score","type":"int"}'},
        {"lsn": 102, "ts": ts0, "op": S.OP_WIDEN_COLUMN,
         "ddl_arg": '{"column":"score","type":"bigint"}'},
    ]
    d = tmp_path / "hist"
    to_debezium_history(
        spark, ddl, S.TRANSCRIPTS_BASE_COLUMNS
    ).coalesce(1).write.mode("overwrite").text(str(d))
    back = read_debezium_history(spark, str(d))
    got = sorted(
        (r.lsn, r.op, r.ddl_arg) for r in back.collect()
    )
    assert got == [(r["lsn"], r["op"], r["ddl_arg"]) for r in ddl]

    t = SnapshotTable(str(tmp_path / "t"))
    t.create(S.TRANSCRIPTS_BASE_COLUMNS, n_buckets=4)
    apply_batch(spark, t, back, 0)
    m = t.current()
    assert dict(m.columns)["score"] == "bigint"


def test_streaming_drain_with_live_schema_history(spark, tmp_path):
    """CdcTask(source='debezium', history_path=...) unions the decoded
    schema-change topic into every trigger: an ADD_COLUMN landing
    between two drains takes effect, re-decoding the full history on
    the second drain is idempotent, and the final DML state matches the
    oracle replay."""
    from datetime import datetime

    import shutil

    from milvus_cdc_spark.streaming.engine import CdcTask, FailProtect
    from milvus_cdc_spark.sources.debezium import to_debezium_history

    log = generate_changelog(
        spark, 1200, n_parts=4, n_convs=30, turns_per_conv=8,
        num_partitions=4,
    ).filter(F.col("op").isin(*S.DML_OPS))
    hi = log.agg(F.max("lsn")).collect()[0][0]
    jdir = tmp_path / "env"
    hdir = tmp_path / "hist"

    def land(df, dst, name):
        tmp = str(tmp_path / "stage")
        df.coalesce(1).write.mode("overwrite").text(tmp)
        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(tmp):
            if f.startswith("part-"):
                shutil.move(os.path.join(tmp, f), os.path.join(dst, name))
        shutil.rmtree(tmp)

    land(to_debezium(log.filter(F.col("lsn") <= 600)), str(jdir), "a.json")

    def task():
        return CdcTask(spark, str(jdir), str(tmp_path / "t"),
                       str(tmp_path / "ck"), source="debezium",
                       history_path=str(hdir), max_files_per_trigger=1)

    t1 = task()
    assert t1.drain_protected(FailProtect(), timeout_sec=180)
    assert "score" not in [c[0] for c in t1.table.current().columns]

    # DDL lands on the history topic + the rest of the DML arrives
    ddl = [{"lsn": hi + 1, "ts": datetime(2024, 1, 1),
            "op": S.OP_ADD_COLUMN,
            "ddl_arg": '{"column":"score","type":"bigint"}'}]
    land(to_debezium_history(spark, ddl, S.TRANSCRIPTS_BASE_COLUMNS),
         str(hdir), "h.json")
    land(to_debezium(log.filter(F.col("lsn") > 600)), str(jdir), "b.json")

    t2 = task()
    assert t2.drain_protected(FailProtect(), timeout_sec=180)
    cols = dict(t2.table.current().columns)
    assert cols.get("score") == "bigint"

    # a third drain with no new files must stay clean (idempotent
    # re-apply of the already-applied history)
    t3 = task()
    assert t3.drain_protected(FailProtect(), timeout_sec=60)

    want, _ = replay([r.asDict() for r in log.collect()])
    got = t3.table.read(spark)
    cs = [c for c in got.columns if c != "score"]
    want_set = sorted(tuple(r[c] for c in cs) for r in want)
    got_set = sorted(tuple(r[c] for c in cs) for r in got.collect())
    assert got_set == want_set


def test_history_encoder_emits_create_for_no_alters(spark):
    """A table with no ALTERs still gets its CREATE history message
    (regression: the empty-ddl_rows path crashed on ts=None)."""
    import json as _json

    from milvus_cdc_spark.sources.debezium import to_debezium_history

    df = to_debezium_history(spark, [], S.TRANSCRIPTS_BASE_COLUMNS)
    rows = df.collect()
    assert len(rows) == 1
    msg = _json.loads(rows[0]["value"])
    assert msg["tableChanges"][0]["type"] == "CREATE"
    assert msg["ts_ms"] == 0
    got = [c["name"] for c in msg["tableChanges"][0]["table"]["columns"]]
    assert got == [n for n, _t in S.TRANSCRIPTS_BASE_COLUMNS]


def test_history_cursor_decodes_incrementally(spark, tmp_path):
    """HistoryCursor (round-5): only NEW topic files decode per round;
    the persisted per-table column state seeds the consecutive-state
    diff so transitions split across rounds still emit exactly the
    full-decode events — and an uncommitted round re-decodes (the
    at-least-once crash contract)."""
    from datetime import datetime

    from milvus_cdc_spark.sources.debezium import (
        HistoryCursor,
        read_debezium_history,
        to_debezium_history,
    )

    d = tmp_path / "hist"
    d.mkdir()
    state = str(tmp_path / "cursor.json")

    def land(ddl_rows, name):
        df = to_debezium_history(spark, ddl_rows, S.TRANSCRIPTS_BASE_COLUMNS)
        tmp = str(tmp_path / "stage")
        df.coalesce(1).write.mode("overwrite").text(tmp)
        for f in os.listdir(tmp):
            if f.startswith("part-"):
                os.replace(os.path.join(tmp, f), str(d / name))

    add = {"lsn": 10, "ts": datetime(2024, 1, 1), "op": S.OP_ADD_COLUMN,
           "ddl_arg": '{"column":"score","type":"bigint"}'}
    widen = {"lsn": 20, "ts": datetime(2024, 1, 2), "op": S.OP_WIDEN_COLUMN,
             "ddl_arg": '{"column":"turn_idx","type":"bigint"}'}

    cur = HistoryCursor(str(d), state)
    assert cur.events(spark) is None  # empty topic: no Spark job

    land([add], "a.json")
    ev1 = cur.events(spark).collect()
    assert [(r["op"], r["ddl_arg"]) for r in ev1] == [
        (S.OP_ADD_COLUMN, '{"column":"score","type":"bigint"}')
    ]
    cur.commit()
    assert cur.events(spark) is None  # nothing new → no redecode

    # round 2 encodes the FULL history (CREATE + both alters) in a new
    # file set; the cursor must emit ONLY the widen transition, seeded
    # by its stored post-add state
    land([add, widen], "b.json")
    ev2 = (HistoryCursor(str(d), state)  # fresh instance: state is disk
           .events(spark).collect())
    ops2 = sorted((r["op"], r["ddl_arg"]) for r in ev2)
    assert (S.OP_WIDEN_COLUMN,
            '{"column":"turn_idx","type":"bigint"}') in ops2
    assert all(o != S.OP_ADD_COLUMN or "score" not in a for o, a in ops2)

    # crash contract: events() without commit() → same events again
    cur3 = HistoryCursor(str(d), state)
    again = cur3.events(spark).collect()
    assert sorted((r["op"], r["ddl_arg"]) for r in again) == ops2
    cur3.commit()
    # cursored round-2 events are a subset of the full decode over the
    # final topic (the add emitted in round 1, not again in round 2)
    full = read_debezium_history(spark, str(d)).collect()
    assert set(ops2) <= {(r["op"], r["ddl_arg"]) for r in full}


def test_multi_history_cursor_holds_on_skipped_epochs(spark, tmp_path):
    """MultiCdcTask(source='debezium', history_path=...): an intent
    replay of an already-committed epoch, or any epoch skipped as
    committed, must not advance the history cursor — a schema change
    that landed after the crash rides the next fresh group instead."""
    from milvus_cdc_spark.streaming.engine import MultiCdcTask

    def env(lsn, table):
        return json.dumps({
            "after": {"conv_id": f"c{lsn}", "turn_idx": 0, "role": "user",
                      "text": "t", "tool": None},
            "source": {"lsn": lsn, "ts_us": 1700000000000000 + lsn,
                       "partition": 0, "table": table},
            "op": "c", "ts_ms": 1700000000000,
        })

    def hist(lsn, kind, cols):
        return json.dumps({
            "source": {"lsn": lsn}, "ts_ms": 1700000000000, "ddl": "--",
            "tableChanges": [{
                "type": kind, "id": '"db"."ta"',
                "table": {"columns": [
                    {"name": n, "typeName": t, "position": i + 1}
                    for i, (n, t) in enumerate(cols)
                ]},
            }],
        })

    log, hdir = tmp_path / "log", tmp_path / "hist"
    os.makedirs(log)
    os.makedirs(hdir)
    (log / "a.json").write_text(
        "\n".join(env(i, "ta" if i % 2 else "tb") for i in range(1, 11))
    )
    (hdir / "h1.json").write_text(hist(0, "CREATE", [("conv_id", "VARCHAR")]))
    root, ckpt = str(tmp_path / "tables"), str(tmp_path / "ck")

    def drain():
        t = MultiCdcTask(spark, str(log), root, ckpt, source="debezium",
                         history_path=str(hdir), max_files_per_trigger=1,
                         n_buckets=4)
        t.start(available_now=True)
        assert t.wait_drained(120)
        return t

    drain()
    cursor = os.path.join(ckpt, "history_cursor.json")
    before = open(cursor).read()
    # forge a crash after the last epoch committed; a schema change lands
    led_path = os.path.join(ckpt, "wal_ledger.json")
    led = json.load(open(led_path))
    last = led["next_epoch"] - 1
    led["intent"] = {"epoch": last, "files": [str(log / "a.json")]}
    with open(led_path, "w") as f:
        f.write(json.dumps(led))
    (hdir / "h2.json").write_text(
        hist(100, "ALTER", [("conv_id", "VARCHAR"), ("score", "BIGINT")])
    )
    t2 = drain()
    assert open(cursor).read() == before
    assert json.load(open(led_path))["intent"] is None
    assert "score" not in dict(t2.table("ta").current().columns)
    # an epoch skipped as committed withholds the cursor even when the
    # new history rides it
    t2._apply_files([str(log / "a.json")], last)
    assert open(cursor).read() == before
    # the DDL lands with the next fresh group
    (log / "b.json").write_text("\n".join(env(i, "ta") for i in range(11, 15)))
    t3 = drain()
    assert dict(t3.table("ta").current().columns)["score"] == "bigint"
    assert open(cursor).read() != before
