"""Messaging patterns (SURVEY §2.4, M1-M7) — selium-switchboard surface.

The reference's distribution operators map onto stream-table pub/sub:
a published stream is a directory-backed table; every subscriber runs
its own query (Kafka-style fan-out is native); Fanout's exactly-one-
consumer contract becomes partition-level task exclusivity (SURVEY
§7.4.2). ``request_reply`` renders the M4 Client/Server pattern as a
``foreachBatch`` computing FlatResult envelopes into a reply stream.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import StreamCatalog
from ..fsutil import start_stream


def publish(
    catalog: StreamCatalog,
    df: DataFrame,
    uri: str,
    checkpoint: str | None = None,
    source_id: int | None = None,
    mode: str | None = None,
):
    """M1 Publisher: append a (batch or streaming) DataFrame to a
    catalog endpoint. Stamps ``source_id`` (writer_id attribution,
    subsystem/messaging/src/lib.rs:62-67) when given.

    Streaming + park -> checkpointed exactly-once append;
    streaming + drop -> fire-and-forget append (no checkpoint).
    Returns the StreamingQuery for streams, None for batch.
    """
    entry = catalog.get(uri)
    mode = mode or entry.mode
    if source_id is not None:
        df = df.withColumn("source_id", F.lit(source_id))
    # strict schema identity on publish, mirroring the subscribe-side
    # gate (SchemaDescriptor equality, encoding.rs:56-62): a publisher
    # whose schema hash differs from the endpoint's is refused
    from ..catalog import SchemaMismatchError, schema_hash

    df_hash = schema_hash(df.schema)
    if df_hash != entry.hash:
        raise SchemaMismatchError(
            f"publish to {uri}: dataframe schema hash {df_hash} != endpoint {entry.hash}"
        )
    if df.isStreaming:
        if mode == "park" and not checkpoint:
            raise ValueError("park-mode streaming publish needs a checkpoint dir")
        if mode != "park":
            checkpoint = None
        writer = df.writeStream.format(entry.fmt).outputMode("append")
        return start_stream(catalog.spark, writer, checkpoint, entry.path)
    df.write.format(entry.fmt).mode("append").save(entry.path)
    return None


def subscribe(catalog: StreamCatalog, uri: str, expected_hash: str | None = None) -> DataFrame:
    """M2 Subscriber: typed stream read with schema-hash gate."""
    return catalog.read_stream(uri, expected_hash=expected_hash)


def subscribe_batch(catalog: StreamCatalog, uri: str, expected_hash: str | None = None) -> DataFrame:
    """Batch twin of M2 (oracle-comparable)."""
    return catalog.read(uri, expected_hash=expected_hash)


def fanout(
    df: DataFrame,
    n_workers: int,
    worker_col: str = "worker",
    assignment: F.Column | None = None,
) -> DataFrame:
    """M3 Fanout: each record to exactly one of N consumers.

    Reference: ``Fanout::<Connection>::create``
    examples/load-balancer/src/lib.rs:21-35. Spark's task model already
    load-balances partitions across workers; we also surface the
    assignment as a deterministic column (hash mod N) so tests and
    oracles can observe the exactly-one-consumer property. Contract
    difference vs the reference (competing consumers) is documented in
    SURVEY §7.4.2: exclusivity here is per-row-deterministic rather
    than race-based — a *stronger* guarantee.
    """
    if assignment is None:
        assignment = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_workers))
    return df.withColumn(worker_col, assignment).repartition(n_workers, F.col(worker_col))


def tap(catalog: StreamCatalog, uri: str) -> DataFrame:
    """M5 adopt/Tap: observe a channel without stealing frames.

    Reading a stream table never consumes it — a tap is just another
    subscriber (reference: adopt_output_channel(Tap, Drop),
    examples/log-analyser/src/lib.rs:49-52).
    """
    return catalog.read_stream(uri)


def request_reply_batch(
    requests: DataFrame,
    handler: Callable[[DataFrame], DataFrame],
    request_id: str = "request_id",
) -> DataFrame:
    """M4 request/reply, batch twin: apply a handler to request rows and
    wrap results in the FlatResult envelope (request_id, payload BINARY,
    error STRING) — system/userland/schemas/result.fbs,
    encoding.rs:64-81. The handler returns (request_id, payload_str)
    or (request_id, payload_str, error).
    """
    out = handler(requests)
    cols = set(out.columns)
    if "error" not in cols:
        out = out.withColumn("error", F.lit(None).cast("string"))
    return out.select(
        F.col(request_id),
        F.when(F.col("error").isNull(), F.col("payload").cast("binary")).alias("payload"),
        F.col("error"),
    )


def request_reply_stream(
    catalog: StreamCatalog,
    requests: DataFrame,
    handler: Callable[[DataFrame], DataFrame],
    reply_uri: str,
    checkpoint: str,
):
    """M4 request/reply, streaming: each micro-batch of requests is
    handled and replies appended to the reply stream keyed by
    request_id (the reply_to/response-channel handle of
    tests/request-reply/schemas/request_reply.fbs becomes the reply
    stream URI). RTT >= trigger interval per SURVEY §7.4.4.
    """
    entry = catalog.get(reply_uri)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        replies = request_reply_batch(batch_df, handler)
        replies.write.format(entry.fmt).mode("append").save(entry.path)

    return start_stream(
        catalog.spark, requests.writeStream.foreachBatch(_process), checkpoint
    )
