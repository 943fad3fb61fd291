"""Kafka source/sink adapter (SURVEY §8 TODO 4; S2-S4 over a real broker).

A selium Channel at production scale IS a Kafka-style topic (SURVEY
§1.1's mapping table): Park mode ≙ checkpointed read from committed
offsets; Drop mode (weak reader, subsystem/messaging/src/reader.rs:
319-396) ≙ `startingOffsets=latest` with no checkpoint — laps become
skipped offsets, observable via the loss listener instead of silent.
`maxOffsetsPerTrigger` is the backpressure knob (Park's writer-parking
rendered as bounded micro-batches).

The kafka-sql connector jar is not in this container, so the module is
*availability-gated*: the pure option-building logic (the part with
semantics worth testing) is plain Python and unit-tested; the
DataFrame-returning entry points raise a clear error when the jar is
absent and are exercised for real only where `spark-sql-kafka` is on
the classpath (cluster deployments pass
`--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-ver>`).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import start_stream

_FRAME_COLS = ["key", "value", "topic", "partition", "offset", "timestamp"]


def kafka_available(spark: SparkSession) -> bool:
    """True when the kafka-sql connector is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def reader_options(
    brokers: str,
    topic: str,
    mode: str = "park",
    max_offsets_per_trigger: int | None = None,
    extra: Mapping[str, str] | None = None,
) -> dict[str, str]:
    """Build the option map for a Kafka stream read.

    park  -> earliest offsets; caller supplies a checkpoint at query
             start, so restarts resume from committed offsets (strong
             reader: lossless within retention).
    drop  -> latest offsets + failOnDataLoss=false: a consumer that
             falls behind retention skips ahead (weak reader lap,
             ReaderBehind) instead of failing the query.
    """
    if mode not in ("park", "drop"):
        raise ValueError(f"mode must be park|drop, got {mode!r}")
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": "earliest" if mode == "park" else "latest",
        "failOnDataLoss": "true" if mode == "park" else "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if extra:
        opts.update(extra)
    return opts


def writer_options(brokers: str, topic: str, extra: Mapping[str, str] | None = None) -> dict[str, str]:
    opts = {"kafka.bootstrap.servers": brokers, "topic": topic}
    if extra:
        opts.update(extra)
    return opts


def _require(spark: SparkSession) -> None:
    if not kafka_available(spark):
        raise RuntimeError(
            "Kafka connector not on classpath; start Spark with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
        )


def read_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    schema=None,
    mode: str = "park",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Subscribe to a topic as a typed stream.

    Without ``schema``: the raw frame view (key/value binary + topic,
    partition, offset, timestamp — offset ≙ frame cursor, partition ≙
    writer shard). With ``schema``: value is parsed as JSON into typed
    columns plus ``_corrupt`` for undecodable frames (T3 filter_map
    keeps decode errors observable, SURVEY §2.2).
    """
    _require(spark)
    reader = spark.readStream.format("kafka")
    for k, v in reader_options(brokers, topic, mode, max_offsets_per_trigger).items():
        reader = reader.option(k, v)
    raw = reader.load().select(*_FRAME_COLS)
    if schema is None:
        return raw
    parsed = raw.withColumn(
        "_decoded", F.from_json(F.col("value").cast("string"), schema)
    )
    return parsed.select(
        F.col("timestamp").alias("ingest_ts"),
        F.col("partition").alias("source_id"),  # writer_id attribution (§1.1)
        F.col("offset"),
        "_decoded.*",
        F.when(F.col("_decoded").isNull(), F.col("value").cast("string")).alias("_corrupt"),
    )


def write_stream(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint: str,
    key_col: str | None = None,
    query_name: str = "kafka_sink",
):
    """Publish a typed stream to a topic: rows are JSON-encoded into
    the value frame (T6 encode at the sink boundary)."""
    _require(df.sparkSession)
    cols = [c for c in df.columns if c != key_col]
    out = df.select(
        *(
            [F.col(key_col).cast("string").alias("key")] if key_col else []
        ),
        F.to_json(F.struct(*cols)).alias("value"),
    )
    writer = out.writeStream.queryName(query_name).format("kafka")
    for k, v in writer_options(brokers, topic).items():
        writer = writer.option(k, v)
    return start_stream(df.sparkSession, writer, checkpoint)
