"""Streaming engine: drain, pause/resume from checkpoint, convergence.

Mirrors the reference's pause/resume task tests
(/root/reference/tests/testcases/test_cdc_pause.py, test_cdc_resume.py)
and the convergence oracle of its e2e suite (test_cdc_e2e.py:78-96).
"""

from pyspark.sql import functions as F

from milvus_cdc_spark.operators.apply import read_lineage
from milvus_cdc_spark.oracle import replay
from milvus_cdc_spark.sources import generate_changelog, write_changelog, read_changelog
from milvus_cdc_spark.streaming.engine import CdcTask, run_until_drained

N = 3000


def _oracle_tuples(spark, log_path):
    rows, cols = replay([r.asDict() for r in read_changelog(spark, log_path).collect()])
    scols = sorted(cols)
    return sorted(tuple(r[c] for c in scols) for r in rows)


def _table_tuples(spark, task):
    df = task.table.read(spark)
    scols = sorted(df.columns)
    return sorted(tuple(r[c] for c in scols) for r in df.select(scols).collect())


def test_streaming_drain_matches_oracle(spark, tmp_path):
    log = str(tmp_path / "log")
    write_changelog(
        generate_changelog(spark, N, n_parts=4, n_convs=40, turns_per_conv=20), log, n_files=10
    )
    task = run_until_drained(
        spark, log, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        max_files_per_trigger=3, n_buckets=8,
    )
    assert _table_tuples(spark, task) == _oracle_tuples(spark, log)
    # multiple micro-batches actually happened (pacing honored)
    assert len(task.table.current().epochs) >= 3
    lin = read_lineage(spark, task.table)
    assert lin.select("epoch").distinct().count() >= 3


def test_pause_resume_from_checkpoint(spark, tmp_path):
    log = str(tmp_path / "log")
    write_changelog(
        generate_changelog(spark, N, n_parts=4, n_convs=40, turns_per_conv=20), log, n_files=10
    )
    table_root, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")

    # phase 1: drain only part of the log (big trigger cap, but stop after
    # first batches by draining a PREFIX of the files: write 6 of 10 files)
    import shutil, os
    partial = str(tmp_path / "partial")
    os.makedirs(partial)
    files = sorted(f for f in os.listdir(log) if f.endswith(".parquet"))
    for f in files[:6]:
        shutil.copy(os.path.join(log, f), os.path.join(partial, f))
    t1 = run_until_drained(spark, partial, table_root, ckpt, max_files_per_trigger=2, n_buckets=8)
    epochs_phase1 = len(t1.table.current().epochs)
    assert epochs_phase1 >= 2
    t1.pause()
    assert t1.status()["state"] in ("Stopped", "Paused")

    # phase 2: remaining files arrive; resume from the SAME checkpoint
    for f in files[6:]:
        shutil.copy(os.path.join(log, f), os.path.join(partial, f))
    t2 = CdcTask(spark, partial, table_root, ckpt, max_files_per_trigger=2, n_buckets=8)
    t2.resume(available_now=True)
    t2.wait_drained()

    # resumed task continued epochs, and final state == oracle over full log
    assert len(t2.table.current().epochs) > epochs_phase1
    assert _table_tuples(spark, t2) == _oracle_tuples(spark, log)


def test_live_tail_picks_up_new_files(spark, tmp_path):
    """Continuous-trigger tail: files appended WHILE the query runs are
    discovered and applied — the MQ-subscribe behavior of the reference's
    reader (core/reader/stream_creator.go:39-159), modeled by the file
    source's directory polling."""
    import os
    import shutil
    import time

    log = str(tmp_path / "log")
    staging = str(tmp_path / "staging")
    write_changelog(
        generate_changelog(spark, N, n_parts=4, n_convs=40, turns_per_conv=20),
        staging,
        n_files=8,
    )
    files = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    os.makedirs(log)
    for f in files[:4]:
        shutil.copy(os.path.join(staging, f), os.path.join(log, f))

    task = CdcTask(
        spark, log, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        max_files_per_trigger=2, n_buckets=8,
    )
    task.start()  # processingTime trigger — keeps polling
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if len(task.table.current().epochs) >= 2:
                break
            time.sleep(0.5)
        # late files arrive while the query is live
        for f in files[4:]:
            shutil.copy(os.path.join(staging, f), os.path.join(log, f))
        want = _oracle_tuples(spark, staging)
        got = None
        while time.time() < deadline:
            got = _table_tuples(spark, task)
            if got == want:
                break
            time.sleep(1.0)
        assert got == want, "live tail did not converge on appended files"
    finally:
        task.pause()


def test_status_reports_progress(spark, tmp_path):
    log = str(tmp_path / "log")
    write_changelog(generate_changelog(spark, 500, n_parts=2), log, n_files=2)
    task = run_until_drained(
        spark, log, str(tmp_path / "table"), str(tmp_path / "ckpt"), n_buckets=4
    )
    st = task.status()
    assert st["epochs_committed"] >= 1
    assert st["snapshot_id"].startswith("snap-")
    assert st["summary"]["events_applied"] == 500


def test_file_tasks_run_no_streaming_query(spark, tmp_path):
    """Parquet and Debezium file tasks run on the driver-side poll loop:
    no Structured Streaming query exists while a CdcTask tails or while a
    MultiCdcTask drains."""
    import time

    from milvus_cdc_spark.sources import generate_multi_changelog
    from milvus_cdc_spark.streaming.engine import MultiCdcTask

    log = str(tmp_path / "log")
    write_changelog(generate_changelog(spark, 600, n_parts=2), log, n_files=2)
    task = CdcTask(
        spark, log, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        n_buckets=4,
    )
    task.start()
    try:
        deadline = time.time() + 120
        while not task.table.current().epochs and time.time() < deadline:
            assert spark.streams.active == []
            time.sleep(0.2)
        assert task.query.isActive and spark.streams.active == []
    finally:
        task.pause()

    mlog = str(tmp_path / "mlog")
    write_changelog(
        generate_multi_changelog(spark, 600, ["a", "b"]), mlog, n_files=2
    )
    multi = MultiCdcTask(
        spark, mlog, str(tmp_path / "tables"), str(tmp_path / "mckpt"),
        n_buckets=4,
    )
    multi.start(available_now=True)
    assert spark.streams.active == []
    assert multi.wait_drained(120)
    assert sorted(multi.tables) == ["a", "b"]
    assert multi.status()["wal_pending_files"] == 0


def test_kafka_task_is_the_one_streaming_query(spark, tmp_path, monkeypatch):
    """A Kafka task still runs as a Structured Streaming query whose
    foreachBatch applies each micro-batch (broker-less: the decoded topic
    stream is stood in by a file stream of the same changelog)."""
    from milvus_cdc_spark import schemas as S
    from milvus_cdc_spark.streaming import engine

    log = str(tmp_path / "log")
    write_changelog(generate_changelog(spark, 600, n_parts=2), log, n_files=2)
    monkeypatch.setattr(
        engine,
        "_kafka_stream",
        lambda spark, path, opts, multi_table: spark.readStream.schema(
            S.CHANGELOG_SCHEMA
        ).parquet(log),
    )
    task = CdcTask(
        spark, "topic-a", str(tmp_path / "table"), str(tmp_path / "ckpt"),
        n_buckets=4, source="kafka",
        kafka_options={"bootstrap_servers": "b:9092"},
    )
    from pyspark.sql.streaming import StreamingQuery

    assert isinstance(task.start(available_now=True), StreamingQuery)
    assert task.wait_drained(120)
    assert _table_tuples(spark, task) == _oracle_tuples(spark, log)
