"""Changelog reader: batch scan of a changelog directory.

Reference analogue: bootstrap meta snapshot (reference
core/reader/etcd_op.go:557-623). The live tail is not a reader here:
file tasks poll the changelog directory through the WAL gate
(streaming/wal.py), which orders the files by lsn, and the gate's ledger
holds the position (the analogue of positions persisted per pack,
server/cdc_impl.go:844-873).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from milvus_cdc_spark.schemas import CHANGELOG_SCHEMA, MULTI_CHANGELOG_SCHEMA


def read_changelog(
    spark: SparkSession, *paths: str, multi_table: bool = False
) -> DataFrame:
    schema = MULTI_CHANGELOG_SCHEMA if multi_table else CHANGELOG_SCHEMA
    return spark.read.schema(schema).parquet(*paths)
