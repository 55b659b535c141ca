"""WAL-regime batch formation (streaming/wal.py): OP_PATCH streams must
converge to the sequential oracle through the REAL streaming engine under
ADVERSARIAL file-delivery order.

Round-4 regression this pins: batching files in mtime (arrival) order —
what Spark's file source does — is wrong for a WAL; the changelog writer
emits its lsn-ranged files from parallel tasks, so mtimes are effectively
random — the same patch log drained at different max_files_per_trigger
values committed epochs over disjoint, out-of-order lsn ranges and
produced DIFFERENT wrong final states. The gate forms batches in lsn order
(reference analogue: per-channel strictly-ordered apply,
core/writer/replicate_message_manager.go:84-109).
"""

import json
import os
import random
import re
import shutil
import time

import pytest
from pyspark.sql import functions as F

from milvus_cdc_spark import schemas as S
from milvus_cdc_spark.oracle import replay
from milvus_cdc_spark.sources.changelog_gen import (
    generate_changelog,
    write_changelog,
)
from milvus_cdc_spark.streaming.engine import (
    CdcTask,
    MultiCdcTask,
    run_until_drained,
)
from milvus_cdc_spark.streaming import wal
from milvus_cdc_spark.streaming.wal import WalGate

N = 6000


def _shuffle_mtimes(log_dir: str, seed: int) -> None:
    """Adversarial arrival order: assign strictly-distinct, randomly
    permuted mtimes so an mtime sort is a random permutation of the lsn
    order (distinct values: ties broken by path would accidentally
    restore lsn order)."""
    files = sorted(
        f for f in os.listdir(log_dir) if not f.startswith((".", "_"))
    )
    order = list(range(len(files)))
    random.Random(seed).shuffle(order)
    base = 1_600_000_000
    for f, rank in zip(files, order):
        p = os.path.join(log_dir, f)
        os.utime(p, (base + rank * 7, base + rank * 7))


def _oracle_tuples(spark, log_dir: str):
    events = [
        tuple(r)
        for r in spark.read.schema(S.CHANGELOG_SCHEMA)
        .parquet(log_dir)
        .orderBy("lsn")
        .collect()
    ]
    rows, cols = replay(
        [
            {
                "lsn": e[0], "ts": e[1], "part": e[2], "op": e[3],
                "conv_id": e[4], "turn_idx": e[5], "role": e[6],
                "text": e[7], "tool": e[8], "ddl_arg": e[9], "extra": e[10],
            }
            for e in events
        ]
    )
    return sorted(tuple(r.get(c) for c in cols) for r in rows), cols


def _table_tuples(spark, task, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in task.table.read(spark).collect()
    )


@pytest.fixture(scope="module")
def patch_log(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wal") / "log")
    write_changelog(
        generate_changelog(
            spark, N, n_parts=4, n_convs=60, turns_per_conv=20,
            ties_group=1, patch_pct=15, drops=True, evolve=True,
        ),
        d,
        n_files=8,
    )
    return d


@pytest.mark.parametrize("mft", [1, 2, 4, 8])
def test_patch_drain_shuffled_mtimes_matches_oracle(
    spark, tmp_path, patch_log, mft
):
    """THE regression: same patch log, adversarially shuffled mtimes,
    every max_files_per_trigger → byte-equal to the sequential oracle."""
    log = str(tmp_path / "log")
    shutil.copytree(patch_log, log)
    _shuffle_mtimes(log, seed=100 + mft)
    task = run_until_drained(
        spark, log, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        max_files_per_trigger=mft, n_buckets=8,
    )
    want, cols = _oracle_tuples(spark, log)
    assert _table_tuples(spark, task, cols) == want
    assert task._gate.pending() == 0


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_patch_drain_mor_shuffled(spark, tmp_path, patch_log, mode):
    """Both write modes converge under shuffled delivery."""
    log = str(tmp_path / "log")
    shutil.copytree(patch_log, log)
    _shuffle_mtimes(log, seed=7)
    task = run_until_drained(
        spark, log, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        max_files_per_trigger=3, n_buckets=8, write_mode=mode,
    )
    want, cols = _oracle_tuples(spark, log)
    assert _table_tuples(spark, task, cols) == want


def test_blocked_delivery_holds_until_lowest_lsn_arrives(spark, tmp_path):
    """Every file is listed, but the lowest-lsn one is still mid-write
    (its footer cannot be read): the gate holds every file above it,
    names it as the blocker, and once it becomes readable drains the
    backlog in lsn order — exercised at gate level with REAL parquet
    footer stats."""
    log = str(tmp_path / "log")
    write_changelog(
        generate_changelog(
            spark, 2000, n_parts=2, n_convs=30, ties_group=1, patch_pct=20
        ),
        log,
        n_files=4,
    )
    files = sorted(
        (
            os.path.join(log, f)
            for f in os.listdir(log)
            if f.endswith(".parquet")
        ),
        key=lambda p: wal.parquet_lsn_range(p),
    )
    lowest = files[0]
    saved = str(tmp_path / "lowest.parquet")
    shutil.move(lowest, saved)
    with open(lowest, "wb") as f:
        f.write(b"PAR1 still being written")
    gate = WalGate(log, str(tmp_path / "ledger.json"))
    gate.stage()
    assert gate.groups(2) == []
    assert gate.pending() == len(files)
    assert gate.blocker() == lowest
    os.replace(saved, lowest)  # the write completes
    gate.stage()
    groups = gate.groups(2)
    applied = [g for _, grp in groups for g in grp]
    assert applied == files  # lsn order restored, all files drain
    assert [ep for ep, _ in groups] == [0, 1]  # mft=2 grouping held
    assert gate.blocker() is None


def test_append_order_violation_refuses_loudly(spark, tmp_path):
    """A file with lsns below the applied high-watermark (producer
    rewrote history) fails the drain instead of converging silently."""
    df = generate_changelog(spark, 1000, n_parts=2, ties_group=1)
    log = str(tmp_path / "log")
    write_changelog(df.filter(F.col("lsn") >= 500), log, n_files=2)
    run_until_drained(
        spark, log, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        max_files_per_trigger=4, n_buckets=4,
    )
    # history rewrite: earlier lsns arrive after the hwm advanced
    write_changelog(
        df.filter(F.col("lsn") < 500), str(tmp_path / "late"), n_files=1
    )
    for f in os.listdir(str(tmp_path / "late")):
        if f.endswith(".parquet"):
            shutil.copy(
                os.path.join(str(tmp_path / "late"), f),
                os.path.join(log, "zlate-" + f),
            )
    task = CdcTask(
        spark, log, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        max_files_per_trigger=4, n_buckets=4,
    )
    with pytest.raises(Exception, match="append-order violation"):
        task.start(available_now=True)
        task.wait_drained(120)


def test_crash_intent_replays_exactly_once(spark, tmp_path):
    """A persisted intent whose apply 'crashed' (intent present, epoch not
    committed) replays on the next start; a committed intent is skipped by
    the manifest gate. Final state identical either way."""
    log = str(tmp_path / "log")
    write_changelog(
        generate_changelog(
            spark, 1500, n_parts=2, n_convs=30, ties_group=1, patch_pct=10
        ),
        log,
        n_files=3,
    )
    table, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    task = run_until_drained(
        spark, log, table, ckpt, max_files_per_trigger=1, n_buckets=4
    )
    want, cols = _oracle_tuples(spark, log)
    assert _table_tuples(spark, task, cols) == want
    # forge a crash: re-mark the LAST applied group as a pending intent
    # (epoch already committed → resolution must skip, not double-apply)
    led_path = os.path.join(ckpt, "wal_ledger.json")
    led = json.load(open(led_path))
    last_epoch = led["next_epoch"] - 1
    some_file = sorted(led["files"])[-1]
    led["intent"] = {"epoch": last_epoch, "files": [some_file]}
    with open(led_path, "w") as f:
        f.write(json.dumps(led))
    task2 = CdcTask(
        spark, log, table, ckpt, max_files_per_trigger=1, n_buckets=4
    )
    task2.start(available_now=True)
    task2.wait_drained(120)
    assert _table_tuples(spark, task2, cols) == want
    assert json.load(open(led_path))["intent"] is None


def test_gate_unit_ordering_and_grouping(tmp_path):
    """Gate unit semantics with a synthetic range function: blocked
    prefix, mft grouping, overlap extension."""
    d = str(tmp_path / "log")
    os.makedirs(d)
    ranges = {}

    def land(name, lo, hi):
        p = os.path.join(d, name)
        open(p, "w").write("x")
        ranges[p] = (lo, hi)

    land("b", 10, 19)
    land("a", 0, 9)
    ranges[os.path.join(d, "a")] = None  # a is still mid-write
    gate = WalGate(
        d, str(tmp_path / "ledger.json"), range_fn=lambda p: ranges[p]
    )
    # b is listed but blocked behind a, whose range cannot be read yet
    gate.stage()
    assert gate.groups(2) == []
    # a becomes readable and c lands: cap=2 would cut after [a, b], but
    # c's range overlaps b's, so overlap extension pulls c into the same
    # group — an epoch boundary may never split interleaved lsn ranges
    ranges[os.path.join(d, "a")] = (0, 9)
    land("c", 15, 29)
    gate.stage()
    gs = gate.groups(2)
    assert [sorted(os.path.basename(x) for x in g) for _, g in gs] == [
        ["a", "b", "c"]
    ]
    for ep, g in gs:
        gate.begin(ep, g)
        gate.done(ep, g)
    # d is disjoint and lands later: its own group, epochs advance
    land("d", 30, 39)
    gate.stage()
    gs = gate.groups(1)
    assert [sorted(os.path.basename(x) for x in g) for _, g in gs] == [
        ["d"]
    ]
    assert gs[0][0] == 1  # epoch numbering continued past the first group


def test_vanished_file_refuses_loudly(tmp_path):
    """A listed file deleted before the gate applied it is data loss
    (retention raced the consumer): the next stage refuses."""
    d = str(tmp_path / "log")
    os.makedirs(d)
    for name in ("a", "b"):
        open(os.path.join(d, name), "w").write("x")
    ranges = {os.path.join(d, "a"): None, os.path.join(d, "b"): (5, 9)}
    gate = WalGate(
        d, str(tmp_path / "ledger.json"), range_fn=lambda p: ranges[p]
    )
    gate.stage()
    assert gate.groups(4) == []  # b waits behind unreadable a
    os.remove(os.path.join(d, "b"))
    with pytest.raises(ValueError, match="vanished before apply"):
        gate.stage()


def test_ledger_lost_next_to_committed_table_refuses(spark, tmp_path):
    """A checkpoint without ``wal_ledger.json`` (a deleted ledger, or a
    checkpoint written before the gate existed) next to a table that
    already committed epochs refuses at construction, naming the table:
    a fresh ledger would restart epoch ids at 0 and the manifest gate
    would silently skip them."""
    log = str(tmp_path / "log")
    write_changelog(
        generate_changelog(spark, 1000, n_parts=2, num_partitions=2),
        log,
        n_files=2,
    )
    table, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    run_until_drained(
        spark, log, table, ckpt, max_files_per_trigger=1, n_buckets=4
    )
    os.remove(os.path.join(ckpt, "wal_ledger.json"))
    with pytest.raises(ValueError, match=re.escape(f"table {table} already holds")):
        CdcTask(spark, log, table, ckpt, n_buckets=4)
    # a multi-collection task names the committed table under its root
    root = str(tmp_path / "tables")
    batch = spark.read.schema(S.CHANGELOG_SCHEMA).parquet(log).withColumn(
        "table_name", F.lit("ta")
    )
    MultiCdcTask(spark, log, root, str(tmp_path / "mck")).apply_multi(
        batch, 0
    )
    with pytest.raises(ValueError, match=re.escape(os.path.join(root, "ta"))):
        MultiCdcTask(spark, log, root, str(tmp_path / "mck2"))


def test_object_store_changelog_root_refuses_at_construction(spark, tmp_path):
    """The gate lists and keeps its ledger through plans/fs.get_fs: a
    changelog root no TableFS serves fails loudly when the task is built
    (no silent fallback to a weaker ordering), before any table is
    created."""
    table = str(tmp_path / "t")
    with pytest.raises(NotImplementedError, match="s3a"):
        CdcTask(spark, "s3a://bucket/changelog", table, str(tmp_path / "ck"))
    assert not os.path.exists(table)


def test_drain_applies_files_landing_mid_drain(spark, tmp_path):
    """available_now returns only when every listed file has applied: a
    listed file whose footer cannot be read yet holds the drain, files
    renamed into the log meanwhile are picked up, and the drain ends with
    nothing pending."""
    staging = str(tmp_path / "staging")
    write_changelog(
        generate_changelog(
            spark, 2000, n_parts=2, n_convs=30, ties_group=1, patch_pct=10
        ),
        staging,
        n_files=4,
    )
    want, cols = _oracle_tuples(spark, staging)
    names = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    log = str(tmp_path / "log")
    os.makedirs(log)
    shutil.copy(os.path.join(staging, names[0]), os.path.join(log, names[0]))
    # names[1] is mid-write: its final name, not yet a readable parquet
    with open(os.path.join(log, names[1]), "wb") as f:
        f.write(b"PAR1 still being written")
    task = CdcTask(
        spark, log, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        max_files_per_trigger=2, n_buckets=4,
    )
    task.start(available_now=True)
    time.sleep(3)
    assert task.query.isActive  # held by the unreadable file
    assert task.table.current().epochs == {}
    shutil.copy(
        os.path.join(staging, names[1]), os.path.join(log, "." + names[1])
    )
    os.replace(  # the write completes
        os.path.join(log, "." + names[1]), os.path.join(log, names[1])
    )
    for name in names[2:]:  # and more files are renamed into the log
        os.rename(os.path.join(staging, name), os.path.join(log, name))
    assert task.wait_drained(120)
    assert task._gate.pending() == 0
    assert _table_tuples(spark, task, cols) == want


def test_unreadable_file_holds_drain_and_names_it(spark, tmp_path):
    """A file that never becomes readable keeps the drain going until the
    caller's timeout; the pause reason names that file."""
    log = str(tmp_path / "log")
    write_changelog(
        generate_changelog(spark, 500, n_parts=2, num_partitions=2),
        log,
        n_files=2,
    )
    broken = os.path.join(log, "zz-broken.parquet")
    with open(broken, "wb") as f:
        f.write(b"not parquet")
    task = CdcTask(
        spark, log, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        n_buckets=4,
    )
    task.start(available_now=True)
    assert task.wait_drained(5) is False
    st = task.status()
    assert st["state"] == "Paused" and broken in st["reason"], st
    assert st["wal_pending_files"] == 3


def test_stray_parquet_without_lsn_fails_loudly_not_silently(spark, tmp_path):
    """A non-changelog parquet dropped into the log dir must surface
    through the malformed-event policy (loud fail / dlq), not silently
    block the WAL queue forever."""
    log = str(tmp_path / "log")
    write_changelog(
        generate_changelog(spark, 1000, num_partitions=2), log, n_files=2
    )
    # stray file: wrong schema entirely (no lsn column, no stats for it)
    spark.range(5).selectExpr("id AS foo", "id * 2 AS bar").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "stray"))
    for f in os.listdir(str(tmp_path / "stray")):
        if f.endswith(".parquet"):
            shutil.copy(
                os.path.join(str(tmp_path / "stray"), f),
                os.path.join(log, "a-stray.parquet"),
            )
    task = CdcTask(
        spark, log, str(tmp_path / "t"), str(tmp_path / "ck"),
        max_files_per_trigger=4, n_buckets=4,
    )
    with pytest.raises(Exception, match="malformed"):
        task.start(available_now=True)
        task.wait_drained(120)
    # and with dlq mode the drain completes, quarantining the stray rows
    task2 = run_until_drained(
        spark, log, str(tmp_path / "t2"), str(tmp_path / "ck2"),
        max_files_per_trigger=4, n_buckets=4, on_malformed="dlq",
    )
    assert task2._gate.pending() == 0
    assert os.path.isdir(os.path.join(str(tmp_path / "t2"), "dlq"))
