"""Kafka source builder (streaming).

Parity with the reference's reader (glue/cdc_redshift.py:92-105):
subscribe one or more topics, cap per-trigger intake, choose offset origin by
literal or timestamp, decode the value bytes to a UTF-8 string column.

No broker exists in the test environment; these builders are exercised by
unit tests only up to option construction, and by the file-backed streaming
shell (streaming/job.py) which substitutes a file source with the identical
`value: string` contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_options(
    brokers: str,
    topics: str,
    *,
    max_offsets_per_trigger: int | None = 1_000_000,  # config/job-4x.properties:14
    starting_offsets: str = "earliest",
    starting_timestamp: int | None = None,            # glue/cdc_redshift.py:100-103
    consumer_group: str | None = None,                # offset-commit lag monitoring
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    opts: dict[str, str] = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topics,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if starting_offsets in ("earliest", "latest"):
        opts["startingOffsets"] = starting_offsets
    elif starting_timestamp is not None:
        opts["startingTimestamp"] = str(starting_timestamp)
        opts["startingOffsetsByTimestampStrategy"] = "latest"
    else:
        opts["startingOffsets"] = starting_offsets
    if consumer_group:
        opts["kafka.consumer.commit.groupid"] = consumer_group
    opts.update(extra or {})
    return opts


def read_stream(spark: SparkSession, **kwargs) -> DataFrame:
    """Streaming source -> DataFrame[value: string] (S1+S2)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_options(**kwargs).items():
        reader = reader.option(k, v)
    return reader.load().select(F.col("value").cast("string").alias("value"))
