from milvus_cdc_spark.sources.changelog_gen import (
    generate_changelog,
    generate_multi_changelog,
    write_changelog,
)
from milvus_cdc_spark.sources.changelog import read_changelog
from milvus_cdc_spark.sources.debezium import read_debezium, to_debezium
from milvus_cdc_spark.sources.kafka import (
    decode_kafka_batch,
    encode_kafka_batch,
    read_kafka_stream,
)

__all__ = [
    "decode_kafka_batch",
    "encode_kafka_batch",
    "read_kafka_stream",
    "generate_changelog",
    "generate_multi_changelog",
    "write_changelog",
    "read_changelog",
    "read_debezium",
    "to_debezium",
]
