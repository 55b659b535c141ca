"""Spark-free table inspection (Iceberg metadata-tables analogue):
stats() must agree with the physical table without touching data pages,
and the CLI verb must serve it without a Spark session."""

import json

from pyspark.sql import functions as F

from milvus_cdc_spark import schemas as S
from milvus_cdc_spark.operators.apply import apply_batch
from milvus_cdc_spark.plans.manifest import SnapshotTable
from milvus_cdc_spark.sources import generate_changelog


def _build(spark, tmp_path, write_mode="cow", epochs=3, n=4000):
    log = generate_changelog(spark, n, n_parts=4, n_convs=40, turns_per_conv=8)
    t = SnapshotTable(str(tmp_path / f"t_{write_mode}"))
    t.create(
        S.TRANSCRIPTS_BASE_COLUMNS, n_buckets=4, overwrite=True,
        write_mode=write_mode,
    )
    step = n // epochs
    for e in range(epochs):
        apply_batch(
            spark, t,
            log.filter(
                (F.col("lsn") >= e * step) & (F.col("lsn") < (e + 1) * step)
            ),
            epoch=e,
        )
    return t


def test_stats_match_physical_table(spark, tmp_path):
    t = _build(spark, tmp_path)
    s = t.stats()
    m = t.current()
    # physical rows = stored rows incl. tombstones, pre-watermark
    phys = t.read(spark, logical=False, apply_drops=False).count()
    assert s["physical_rows"] == phys > 0
    assert s["n_files"] == sum(len(v) for v in m.files.values())
    assert s["bytes"] > 0
    assert s["version"] == m.version
    assert s["write_mode"] == "cow" and s["n_buckets"] == 4
    assert s["epochs"] == {"count": 3, "min": 0, "max": 2}
    # bucket breakdown sums to the totals
    assert sum(b["rows"] for b in s["buckets"].values()) == s["physical_rows"]
    assert sum(b["bytes"] for b in s["buckets"].values()) == s["bytes"]
    assert s["retained_versions"][0] == 0
    assert s["retained_versions"][1] == m.version
    # logical column names surface (renames applied)
    assert ["conv_id", "string"] in s["columns"]


def test_stats_sees_mor_chains_and_compaction(spark, tmp_path):
    t = _build(spark, tmp_path, write_mode="mor")
    s = t.stats()
    assert s["write_mode"] == "mor"
    assert s["max_delta_chain"] > 1, "3 epochs should stack deltas"
    # stats counts ALL stored versions (resolve=False view), an upper
    # bound on the logical count — the MOR housekeeping signal
    stored = t.read(
        spark, logical=False, apply_drops=False, resolve=False
    ).count()
    assert s["physical_rows"] == stored > t.read(spark).count()
    t.compact(spark)
    s2 = t.stats()
    assert s2["max_delta_chain"] == 1
    assert s2["physical_rows"] <= s["physical_rows"]


def test_stats_cli_verb_no_spark(spark, tmp_path):
    """The verb must answer from manifest + footers alone — pin that by
    running it in a fresh process where starting a JVM is impossible
    (poisoned JAVA_HOME: pyspark imports are pure Python, but any
    SparkSession/py4j gateway launch would need the java binary)."""
    import os
    import subprocess
    import sys

    t = _build(spark, tmp_path)
    code = (
        "import sys\n"
        "from milvus_cdc_spark.streaming import cli\n"
        f"sys.exit(cli.main(['stats', '--table', {t.root!r}]))\n"
    )
    env = {**os.environ, "PYTHONPATH": "/root/repo",
           "JAVA_HOME": "/nonexistent-no-jvm"}
    env.pop("SPARK_HOME", None)
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=120, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.strip().splitlines()[-1])
    name = next(iter(payload))
    assert payload[name]["physical_rows"] > 0
    assert payload[name]["n_buckets"] == 4


def test_epoch_log_record_carries_timings_and_lag(spark, tmp_path, caplog):
    """Every committed epoch emits one record on the
    ``milvus_cdc_spark.apply`` logger with epoch, n_events, the phase
    timings and lag_sec; a replayed (skipped) epoch emits none."""
    import logging

    log = generate_changelog(spark, 600, n_parts=2, n_convs=10, turns_per_conv=6)
    t = SnapshotTable(str(tmp_path / "t_log"))
    t.create(S.TRANSCRIPTS_BASE_COLUMNS, n_buckets=2)
    caplog.set_level(logging.INFO, logger="milvus_cdc_spark.apply")
    res = apply_batch(spark, t, log, epoch=0)
    assert apply_batch(spark, t, log, epoch=0)["skipped"]
    recs = [r for r in caplog.records if r.name == "milvus_cdc_spark.apply"]
    assert len(recs) == 1
    r = recs[0]
    assert (r.epoch, r.n_events) == (0, res["n_events"])
    assert r.timings == res["timings"]
    assert set(r.timings) >= {
        "setup", "lineage_ddl_buckets", "dedup_plan", "merge_write",
        "lsn_gate_wait",
    }
    assert r.lag_sec > 0  # synthetic events are timestamped in the past
    assert json.loads(r.getMessage().split(" ", 2)[2])["epoch"] == 0
