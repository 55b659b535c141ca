"""Replay-equality gate: engine's distributed MERGE == sequential oracle.

Mirrors the reference's convergence oracle (dual-cluster equality,
/root/reference/tests/testcases/test_cdc_e2e.py:78-96) at unit scale.
"""

import pytest
from pyspark.sql import functions as F

from milvus_cdc_spark import schemas as S
from milvus_cdc_spark.operators.apply import apply_batch, read_lineage, read_metrics
from milvus_cdc_spark.oracle import replay
from milvus_cdc_spark.plans.manifest import SnapshotTable
from milvus_cdc_spark.sources import generate_changelog, write_changelog, read_changelog

N = 4000


@pytest.fixture(scope="module")
def changelog(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("log") / "events")
    df = generate_changelog(
        spark, N, n_parts=4, n_convs=40, turns_per_conv=20, num_partitions=8
    )
    write_changelog(df, path, n_files=8)
    return path


@pytest.fixture(scope="module")
def oracle_result(spark, changelog):
    rows = [r.asDict() for r in read_changelog(spark, changelog).collect()]
    return replay(rows)


def _table_rows(spark, table):
    df = table.read(spark)
    cols = sorted(df.columns)
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    ), cols


def _oracle_rows(oracle_result):
    rows, cols = oracle_result
    scols = sorted(cols)
    return sorted(tuple(r[c] for c in scols) for r in rows), scols


def _apply_in_batches(spark, table_root, changelog, n_batches):
    from milvus_cdc_spark.schemas import TRANSCRIPTS_BASE_COLUMNS

    table = SnapshotTable(table_root)
    table.create(TRANSCRIPTS_BASE_COLUMNS, n_buckets=8, overwrite=True)
    log = read_changelog(spark, changelog)
    step = (N + n_batches - 1) // n_batches
    for i in range(n_batches):
        batch = log.filter((F.col("lsn") >= i * step) & (F.col("lsn") < (i + 1) * step))
        apply_batch(spark, table, batch, epoch=i)
    return table


def test_single_batch_matches_oracle(spark, changelog, oracle_result, tmp_path):
    table = _apply_in_batches(spark, str(tmp_path / "t1"), changelog, 1)
    got, gcols = _table_rows(spark, table)
    want, wcols = _oracle_rows(oracle_result)
    assert gcols == wcols  # schema evolution applied (tool_name, tool_args)
    assert got == want


def test_multi_batch_matches_oracle(spark, changelog, oracle_result, tmp_path):
    table = _apply_in_batches(spark, str(tmp_path / "t2"), changelog, 7)
    got, _ = _table_rows(spark, table)
    want, _ = _oracle_rows(oracle_result)
    assert got == want


def test_out_of_order_batches_converge(spark, changelog, oracle_result, tmp_path):
    """Apply lsn slices in shuffled order → identical final table.

    Regression for two verify-probe bugs: deletes must persist as
    tombstones, and ADD_COLUMN must recover values from the stored
    dynamic-field bag when the DDL arrives after the data.
    """
    from milvus_cdc_spark.schemas import TRANSCRIPTS_BASE_COLUMNS

    table = SnapshotTable(str(tmp_path / "ooo"))
    table.create(TRANSCRIPTS_BASE_COLUMNS, n_buckets=8, overwrite=True)
    log = read_changelog(spark, changelog)
    step = N // 5
    for epoch, i in enumerate([4, 1, 3, 0, 2]):
        batch = log.filter(
            (F.col("lsn") >= i * step) & (F.col("lsn") < (i + 1) * step)
        )
        apply_batch(spark, table, batch, epoch=epoch)
    got, _ = _table_rows(spark, table)
    want, _ = _oracle_rows(oracle_result)
    assert got == want


def test_epoch_replay_is_idempotent(spark, changelog, tmp_path):
    table = _apply_in_batches(spark, str(tmp_path / "t4"), changelog, 4)
    before, _ = _table_rows(spark, table)
    v_before = table.current().version
    # crash-replay of an already-committed epoch must be a no-op
    log = read_changelog(spark, changelog)
    res = apply_batch(spark, table, log.filter(F.col("lsn") < 1000), epoch=0)
    assert res["skipped"] is True
    assert table.current().version == v_before
    after, _ = _table_rows(spark, table)
    assert after == before


def test_schema_evolution_visible(spark, changelog, tmp_path):
    table = _apply_in_batches(spark, str(tmp_path / "t5"), changelog, 5)
    df = table.read(spark)
    assert "tool_args" in df.columns  # ADD_COLUMN applied
    assert "tool_name" in df.columns and "tool" not in df.columns  # RENAME applied
    # rows whose winning event predates the ADD_COLUMN read back NULL
    assert df.filter(F.col("tool_args").isNotNull()).count() > 0
    assert df.filter(F.col("tool_args").isNull()).count() > 0


def test_drop_partition_enforced(spark, changelog, oracle_result, tmp_path):
    table = _apply_in_batches(spark, str(tmp_path / "t6"), changelog, 2)
    m = table.current()
    assert m.drop_watermarks, "generator emits a DROP_PARTITION"
    df = table.read(spark)
    for part, ts in m.drop_watermarks.items():
        assert (
            df.filter(
                (F.col("part") == int(part)) & (F.col("ts") < F.lit(ts).cast("timestamp"))
            ).count()
            == 0
        )


def test_lineage_and_metrics(spark, changelog, tmp_path):
    table = _apply_in_batches(spark, str(tmp_path / "t7"), changelog, 4)
    lin = read_lineage(spark, table)
    assert lin.select("epoch").distinct().count() == 4
    # per (epoch, part): one lineage row with a valid lsn range
    bad = lin.filter(F.col("end_lsn") < F.col("start_lsn")).count()
    assert bad == 0
    assert lin.filter(F.col("snapshot_id").startswith("snap-")).count() == lin.count()
    met = read_metrics(spark, table)
    assert met.count() == 4
    assert met.agg(F.sum("n_events")).collect()[0][0] == N
