"""Error-rate protection (reference core/writer/fail_protect.go:28-99) and
cross-process task lifecycle CLI (reference server/cdc_api.go:26-36)."""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

import milvus_cdc_spark.streaming.engine as engine
from milvus_cdc_spark.oracle import replay
from milvus_cdc_spark.sources import generate_changelog, write_changelog
from milvus_cdc_spark.streaming.engine import CdcTask, FailProtect
from milvus_cdc_spark.streaming.registry import TaskRegistry


def _write_log(spark, tmp_path, n=1200):
    log_dir = str(tmp_path / "log")
    write_changelog(
        generate_changelog(spark, n, n_parts=4, n_convs=20, num_partitions=4),
        log_dir,
        n_files=4,
    )
    return log_dir


def test_fail_protect_window_counter():
    fp = FailProtect(max_failures=3, window_sec=10.0)
    assert fp.record_failure(now=0.0) is False
    assert fp.record_failure(now=1.0) is False
    assert fp.record_failure(now=2.0) is True  # 3 failures in window
    fp2 = FailProtect(max_failures=3, window_sec=10.0)
    fp2.record_failure(now=0.0)
    fp2.record_failure(now=1.0)
    # the first two age out of the window → not tripped
    assert fp2.record_failure(now=30.0) is False


def test_transient_failures_retry_then_drain(spark, tmp_path, monkeypatch):
    log_dir = _write_log(spark, tmp_path)
    calls = {"n": 0}
    real = engine.apply_batch

    def flaky(*args, **kw):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise RuntimeError("transient sink error")
        return real(*args, **kw)

    monkeypatch.setattr(engine, "apply_batch", flaky)
    task = CdcTask(
        spark, log_dir, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    ok = task.drain_protected(
        FailProtect(max_failures=5, window_sec=60.0, backoff_sec=0.1)
    )
    assert ok, task.last_error
    assert calls["n"] > 2  # retried through the transient failures
    # drained state still matches the sequential oracle (idempotent replay)
    rows = [r.asDict() for r in spark.read.parquet(log_dir).collect()]
    want, cols = replay(rows)
    got = task.table.read(spark)
    assert got.count() == len(want)
    scols = sorted(got.columns)
    assert sorted(tuple(r[c] for c in scols) for r in got.collect()) == sorted(
        tuple(r[c] for c in scols) for r in want
    )


def test_persistent_failures_trip_to_paused(spark, tmp_path, monkeypatch):
    log_dir = _write_log(spark, tmp_path)

    def always_fail(*args, **kw):
        raise RuntimeError("sink permanently down")

    monkeypatch.setattr(engine, "apply_batch", always_fail)
    task = CdcTask(
        spark, log_dir, str(tmp_path / "tableb"), str(tmp_path / "ckptb"),
        max_files_per_trigger=2,
    )
    ok = task.drain_protected(
        FailProtect(max_failures=3, window_sec=60.0, backoff_sec=0.05)
    )
    assert ok is False
    st = task.status()
    assert st["persisted_state"] == "Paused"
    assert "fail-protect tripped" in st["reason"]


def test_registry_crud_and_pause_signal(tmp_path):
    reg = TaskRegistry(str(tmp_path / "tasks"))
    spec = reg.create(
        "t1", {"log": "/l", "table": "/t", "checkpoint": str(tmp_path / "ck")}
    )
    assert spec["name"] == "t1"
    assert reg.get("t1")["table"] == "/t"
    assert [t["name"] for t in reg.list()] == ["t1"]
    assert reg.list()[0]["status"]["state"] == "Initial"
    reg.request_pause("t1")
    assert reg.pause_requested("t1")
    assert reg.list()[0]["status"]["pause_requested"] is True
    reg.clear_pause("t1")
    assert not reg.pause_requested("t1")
    reg.delete("t1")
    assert reg.list() == []
    import pytest

    with pytest.raises(FileNotFoundError):
        reg.get("t1")


def test_registry_create_validation(tmp_path):
    import pytest

    reg = TaskRegistry(str(tmp_path / "tasks"))
    with pytest.raises(ValueError, match="missing required field"):
        reg.create("bad", {"log": "/l", "table": "/t"})
    reg.create("a", {"log": "/l", "table": "/t1", "checkpoint": str(tmp_path / "c1")})
    with pytest.raises(FileExistsError):
        reg.create("a", {"log": "/l", "table": "/tx", "checkpoint": str(tmp_path / "cx")})
    with pytest.raises(ValueError, match="owns table"):
        reg.create("b", {"log": "/l2", "table": "/t1", "checkpoint": str(tmp_path / "c2")})
    with pytest.raises(ValueError, match="owns checkpoint"):
        reg.create("c", {"log": "/l2", "table": "/t2", "checkpoint": str(tmp_path / "c1")})
    reg.create("d", {"log": "/l", "table": "/t2", "checkpoint": str(tmp_path / "c2")})


def test_registry_wildcard_overlap_and_capacity(tmp_path):
    """Reference create-task validation breadth: a single-table task nested
    under another task's subscribed tables_root is the dup-collection-vs-
    wildcard conflict (server/cdc_impl.go:371-497); MaxTaskNum caps the
    registry (server/cdc_impl.go:257-258, default 100 in cdc.yaml)."""
    import pytest

    reg = TaskRegistry(str(tmp_path / "tasks"))
    reg.create(
        "multi",
        {"log": "/l", "tables_root": "/warehouse", "checkpoint": str(tmp_path / "cm")},
    )
    with pytest.raises(ValueError, match="overlaps"):
        reg.create(
            "leaf",
            {"log": "/l2", "table": "/warehouse/convs", "checkpoint": str(tmp_path / "cl")},
        )
    with pytest.raises(ValueError, match="overlaps"):
        reg.create(
            "nested",
            {"log": "/l3", "tables_root": "/warehouse/ns1", "checkpoint": str(tmp_path / "cn")},
        )
    # sibling trees are fine
    reg.create(
        "other",
        {"log": "/l4", "tables_root": "/warehouse2", "checkpoint": str(tmp_path / "co")},
    )
    with pytest.raises(ValueError, match="reached the limit"):
        reg.create(
            "over",
            {
                "log": "/l5",
                "table": "/t9",
                "checkpoint": str(tmp_path / "c9"),
                "max_tasks": 2,
            },
        )


def test_position_reports_offsets_and_lineage(spark, tmp_path):
    """getPosition analogue: the source position from the WAL ledger +
    applied lsn watermarks per part from lineage — no Spark session."""
    log_dir = _write_log(spark, tmp_path, n=800)
    table = str(tmp_path / "ptable")
    ckpt = str(tmp_path / "pckpt")
    from milvus_cdc_spark.streaming.engine import run_until_drained

    run_until_drained(spark, log_dir, table, ckpt, max_files_per_trigger=2)
    reg = TaskRegistry(str(tmp_path / "tasks"))
    reg.create("p1", {"log": log_dir, "table": table, "checkpoint": ckpt})
    pos = reg.position("p1")
    # 4 files at 2 per epoch: the ledger numbered epochs 0 and 1, applied
    # every lsn and holds nothing back
    assert pos["last_epoch"] == 1, pos
    assert pos["applied_hwm"] == 799 and pos["pending_files"] == 0
    assert pos["table"]["epochs_committed"] == 2
    ends = pos["applied_end_lsn_per_part"]
    assert ends and max(ends.values()) == 799  # highest applied offset


def test_cli_lifecycle_roundtrip(spark, tmp_path):
    """create → drain(resume path) → pause/list/delete via subprocess CLI —
    the cross-process verbs the reference API exposes."""
    log_dir = _write_log(spark, tmp_path, n=600)
    tasks_dir = str(tmp_path / "tasks")
    table = str(tmp_path / "clitable")
    ckpt = str(tmp_path / "clickpt")
    env = {**os.environ, "PYTHONPATH": "/root/repo", "SPARK_GRAFT_CPUS": "4"}

    def cli(*args):
        r = subprocess.run(
            [sys.executable, "-m", "milvus_cdc_spark.streaming.cli", *args],
            capture_output=True, text=True, env=env, timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    st = cli(
        "create", "--name", "t1", "--tasks-dir", tasks_dir,
        "--log", log_dir, "--table", table, "--checkpoint", ckpt,
        "--master", "local[2]",
    )
    assert st["epochs_committed"] == 0
    # a spec written by an older release still carries the removed
    # "salt_partitions" key: it must be ignored, and the task still drains
    spec_path = os.path.join(tasks_dir, "t1.json")
    with open(spec_path) as f:
        spec = json.load(f)
    spec["salt_partitions"] = 8
    with open(spec_path, "w") as f:
        json.dump(spec, f)

    # pause + list need no Spark and no running process
    assert cli("pause", "--name", "t1", "--tasks-dir", tasks_dir)["pause_requested"]
    listed = cli("list", "--tasks-dir", tasks_dir)
    assert listed[0]["name"] == "t1" and listed[0]["status"]["pause_requested"]

    # resume clears the signal and drains from the checkpoint
    st = cli("resume", "--name", "t1", "--tasks-dir", tasks_dir, "--master", "local[2]")
    assert st["drained"] is True and st["epochs_committed"] >= 1

    st = cli("status", "--name", "t1", "--tasks-dir", tasks_dir, "--master", "local[2]")
    assert st["persisted_state"] == "Stopped"

    cli("delete", "--name", "t1", "--tasks-dir", tasks_dir, "--drop-checkpoint")
    assert cli("list", "--tasks-dir", tasks_dir) == []
    assert not os.path.exists(ckpt)
    # the replicated table survives task deletion
    rows = [r.asDict() for r in spark.read.parquet(log_dir).collect()]
    want, _ = replay(rows)
    from milvus_cdc_spark.plans.manifest import SnapshotTable

    assert SnapshotTable(table).read(spark).count() == len(want)


def test_position_reports_lag(spark, tmp_path):
    """lag_sec gauge (reference replicate_tt lag, server/metrics/
    metrics.go:107-137): wall clock at commit - newest event ts, surfaced
    by the no-Spark position verb."""
    log_dir = _write_log(spark, tmp_path, n=400)
    table = str(tmp_path / "lagtable")
    ckpt = str(tmp_path / "lagckpt")
    from milvus_cdc_spark.streaming.engine import run_until_drained

    run_until_drained(spark, log_dir, table, ckpt, max_files_per_trigger=4)
    reg = TaskRegistry(str(tmp_path / "tasks"))
    reg.create("lag1", {"log": log_dir, "table": table, "checkpoint": ckpt})
    pos = reg.position("lag1")
    # synthetic events are timestamped 2024 → lag is large and positive
    assert pos["lag_sec"] > 0


def test_recreated_task_does_not_inherit_stale_pause(tmp_path):
    """delete() keeps the sentinel for the still-running process, but a
    task RE-CREATED over the kept checkpoint must start unpaused."""
    reg = TaskRegistry(str(tmp_path / "tasks"))
    ck = str(tmp_path / "ck")
    reg.create("t1", {"log": "/l", "table": "/t", "checkpoint": ck})
    reg.request_pause("t1")
    reg.delete("t1")  # checkpoint kept
    assert os.path.exists(os.path.join(ck, "PAUSE_REQUESTED"))
    spec = reg.create("t2", {"log": "/l", "table": "/t", "checkpoint": ck})
    assert not reg.pause_requested(spec)


def test_drain_protected_honors_cross_process_pause(spark, tmp_path):
    """A pause request arriving DURING a drain stops it at the next poll
    (previously only 'tail' polled the sentinel)."""
    log_dir = _write_log(spark, tmp_path, n=1200)
    task = CdcTask(
        spark, log_dir, str(tmp_path / "ptable2"), str(tmp_path / "pckpt2"),
        max_files_per_trigger=1,  # several batches -> poll points exist
    )
    calls = {"n": 0}

    def pause_after_first_poll():
        calls["n"] += 1
        return calls["n"] > 1

    ok = task.drain_protected(timeout_sec=120.0, pause_check=pause_after_first_poll)
    assert ok is False
    st = task.status()
    assert st["persisted_state"] == "Paused"
    assert st["reason"] == "pause requested"


def test_cli_multi_collection_lifecycle(spark, tmp_path):
    """The same eight verbs manage N-collection tasks (reference
    server/cdc_api.go:26-36): create with --tables-root/--collections,
    drain, position-per-table, delete — cross-process."""
    from milvus_cdc_spark.sources.changelog_gen import generate_multi_changelog

    log_dir = str(tmp_path / "mlog")
    write_changelog(
        generate_multi_changelog(
            spark, 900, ["a", "b", "c"], n_parts=4, n_convs=10,
            evolve=False, drops=False, num_partitions=2,
        ),
        log_dir,
        n_files=2,
    )
    tasks_dir = str(tmp_path / "tasks")
    troot = str(tmp_path / "mtables")
    ckpt = str(tmp_path / "mckpt")
    env = {**os.environ, "PYTHONPATH": "/root/repo", "SPARK_GRAFT_CPUS": "4"}

    def cli(*args):
        r = subprocess.run(
            [sys.executable, "-m", "milvus_cdc_spark.streaming.cli", *args],
            capture_output=True, text=True, env=env, timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    cli(
        "create", "--name", "m1", "--tasks-dir", tasks_dir,
        "--log", log_dir, "--tables-root", troot, "--checkpoint", ckpt,
        "--collections", "a,b", "--excludes", "",
        "--master", "local[2]", "--max-files-per-trigger", "2",
    )
    st = cli("drain", "--name", "m1", "--tasks-dir", tasks_dir, "--master", "local[2]")
    assert st["drained"] is True
    assert set(st["tables"]) == {"a", "b"}  # 'c' not subscribed

    pos = cli("position", "--name", "m1", "--tasks-dir", tasks_dir)
    assert set(pos["tables"]) == {"a", "b"}
    for t in pos["tables"].values():
        assert t["table"]["epochs_committed"] >= 1
        assert t["lag_sec"] > 0
    # task-level rollup = the worst per-table lag
    assert pos["lag_sec"] == max(t["lag_sec"] for t in pos["tables"].values())

    # replicated state matches the per-table sequential oracle
    rows = [r.asDict() for r in spark.read.parquet(log_dir).collect()]
    from milvus_cdc_spark.plans.manifest import SnapshotTable

    for name in ("a", "b"):
        want, _ = replay([r for r in rows if r["table_name"] == name])
        got = SnapshotTable(os.path.join(troot, name)).read(spark)
        assert got.count() == len(want), name

    cli("delete", "--name", "m1", "--tasks-dir", tasks_dir, "--drop-checkpoint")
    assert cli("list", "--tasks-dir", tasks_dir) == []


def test_registry_view_publish_specs_require_src_table(tmp_path):
    """A view/publish spec without src_table would KeyError later in
    position(); create() rejects it up front."""
    import pytest

    reg = TaskRegistry(str(tmp_path / "tasks"))
    for field in ("view_store", "publish_out"):
        with pytest.raises(ValueError, match="src_table"):
            reg.create(f"bad_{field}", {
                "log": str(tmp_path / "log"),
                field: str(tmp_path / field),
                "checkpoint": str(tmp_path / f"ckpt_{field}"),
            })


def test_cli_create_registers_view_and_publish_tasks(spark, tmp_path):
    """'create --name --src-table --view-store|--out' registers the task
    (regression: the --src-table branch used to hard-require --table, so
    named view/publish tasks were unreachable from the CLI), and
    position() reports Spark-free."""
    from milvus_cdc_spark import schemas as S
    from milvus_cdc_spark.operators.apply import apply_batch
    from milvus_cdc_spark.plans.manifest import SnapshotTable
    from milvus_cdc_spark.streaming.cli import main

    src = SnapshotTable(str(tmp_path / "src"))
    src.create(S.TRANSCRIPTS_BASE_COLUMNS, n_buckets=4)
    apply_batch(
        spark, src,
        generate_changelog(spark, 100, evolve=False, drops=False), epoch=0,
    )
    tasks = str(tmp_path / "tasks")
    rc = main(["create", "--name", "v1", "--tasks-dir", tasks,
               "--src-table", src.root,
               "--view-store", str(tmp_path / "view"),
               "--checkpoint", str(tmp_path / "ck_v")])
    assert rc == 0
    rc = main(["create", "--name", "p1", "--tasks-dir", tasks,
               "--src-table", src.root,
               "--out", str(tmp_path / "feed"),
               "--checkpoint", str(tmp_path / "ck_p")])
    assert rc == 0
    reg = TaskRegistry(tasks)
    assert reg.get("v1")["view_store"] and reg.get("p1")["publish_out"]
    assert reg.position("v1")["versions_behind"] >= 1
    assert reg.position("p1")["versions_behind"] >= 1


def test_cli_src_table_mode_flags_are_exclusive(tmp_path):
    """--src-table with more than one of --view-store/--out/--table is
    ambiguous (the --out branch used to silently win over --table and
    publish instead of cascade) — the parser errors out."""
    import pytest

    from milvus_cdc_spark.streaming.cli import main

    with pytest.raises(SystemExit) as e:
        main(["drain", "--src-table", str(tmp_path / "s"),
              "--table", str(tmp_path / "t"),
              "--out", str(tmp_path / "o"),
              "--checkpoint", str(tmp_path / "ck")])
    assert e.value.code != 0
