"""Exactly-once / recovery semantics: the Park-mode contract.

Selium's strong reader is lossless at-least-once within process
lifetime; Spark checkpointing upgrades that to exactly-once per sink —
verified here by killing a query between micro-batches and restarting
from the same checkpoint."""

from __future__ import annotations

from pyspark.sql import functions as F

from selium_spark.catalog import StreamCatalog


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    spark.range(0, 10).select(F.col("id")).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()

    # first run consumes batch 1, then the query dies
    run_once()
    assert spark.read.parquet(sink).count() == 10

    # new data arrives while the query is down
    spark.range(10, 20).select(F.col("id")).coalesce(1).write.mode("append").parquet(src)

    # restart from the same checkpoint: only the new file is consumed —
    # all rows exactly once at the sink, none duplicated
    run_once()
    rows = [r.id for r in spark.read.parquet(sink).collect()]
    assert sorted(rows) == list(range(20))


def test_catalog_save_load_roundtrip(spark, catalog, tmp_path):
    path = str(tmp_path / "catalog.json")
    catalog.save(path)
    loaded = StreamCatalog.load(spark, path)
    assert set(loaded.uris()) == set(catalog.uris())
    for uri in catalog.uris():
        assert loaded.get(uri).hash == catalog.get(uri).hash
        assert loaded.get(uri).mode == catalog.get(uri).mode
    assert loaded.read("sel://testdata/nation").count() > 0


def test_idempotent_foreach_batch_skips_replayed_epoch(spark, tmp_path):
    """Epoch-ledger sink: a replayed epoch (crash between sink write
    and checkpoint commit) is skipped, not double-written."""
    from selium_spark import Engine

    src = str(tmp_path / "src")
    spark.range(5).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    eng = Engine(spark)
    out: list[tuple[int, int]] = []

    ledger = str(tmp_path / "ledger")

    def write_fn(batch_df, epoch_id):
        out.append((epoch_id, batch_df.count()))

    h = eng.idempotent_foreach_batch(
        "idem",
        spark.readStream.schema(schema).parquet(src),
        write_fn,
        checkpoint=str(tmp_path / "ckpt"),
        ledger_dir=ledger,
    )
    h.query.processAllAvailable()
    h.stop()
    assert out == [(0, 5)]

    # simulate checkpoint loss (the replay scenario): same ledger, fresh
    # checkpoint -> epoch 0 re-fires but the ledger suppresses the write
    h2 = eng.idempotent_foreach_batch(
        "idem2",
        spark.readStream.schema(schema).parquet(src),
        write_fn,
        checkpoint=str(tmp_path / "ckpt2"),
        ledger_dir=ledger,
    )
    h2.query.processAllAvailable()
    h2.stop()
    assert out == [(0, 5)]  # no second write


def test_streaming_dedup_index_across_batches(spark, tmp_path):
    """Continuous-ingest dedup: batch 2's copy of a batch-1 doc is
    dropped by the parked index; in-batch dupes collapse too; the
    index accumulates one row per distinct content."""
    from selium_spark import Engine

    src = str(tmp_path / "docs_src")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id LONG, text STRING"
    )
    b1.coalesce(1).write.mode("append").parquet(src)

    eng = Engine(spark)
    schema = spark.read.parquet(src).schema
    kw = dict(
        index_path=str(tmp_path / "index"),
        survivors_path=str(tmp_path / "survivors"),
        ledger_dir=str(tmp_path / "ledger"),
    )
    h = eng.streaming_dedup_index(
        "dedup_ingest",
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        checkpoint=str(tmp_path / "ckpt"),
        **kw,
    )
    h.query.processAllAvailable()
    h.stop()

    # second ingest: a dup of doc 1 (normalization-equal), an in-batch
    # dup pair, and one genuinely new doc
    b2 = spark.createDataFrame(
        [(10, "ALPHA   beta"), (11, "epsilon"), (12, "epsilon")],
        "doc_id LONG, text STRING",
    )
    b2.coalesce(1).write.mode("append").parquet(src)
    h2 = eng.streaming_dedup_index(
        "dedup_ingest2",
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        checkpoint=str(tmp_path / "ckpt"),  # same checkpoint: resumes
        **kw,
    )
    h2.query.processAllAvailable()
    h2.stop()

    surv = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "survivors")).collect()}
    assert surv == {1, 2, 11}
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.count() == 3  # one row per distinct content
    assert idx.select("content_hash").distinct().count() == 3


def test_streaming_rollup_partials_match_batch_truth(spark, tmp_path):
    """Continuous aggregate: minute partials appended per micro-batch
    merge-on-read to the exact batch answer at hour grain; the epoch
    ledger keeps replays from double-counting."""
    from pyspark.sql import functions as F

    from selium_spark import Engine
    from selium_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev_src")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    eng = Engine(spark)
    schema = spark.read.parquet(src).schema
    partials = str(tmp_path / "partials")
    h = eng.streaming_rollup(
        "roll",
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        partials_path=partials,
        checkpoint=str(tmp_path / "ckpt"),
        ledger_dir=str(tmp_path / "ledger"),
    )
    h.query.processAllAvailable()
    h.stop()

    hourly = Engine.rollup_read(spark, partials, "hour")
    truth = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    got = {(r["bucket"], r["event_type"]): (r["n"], r["sum_value"]) for r in hourly.collect()}
    want = {(r["bucket"], r["event_type"]): (r["n"], r["sum_value"]) for r in truth.collect()}
    assert got == want
    # a replayed epoch (same ledger, fresh checkpoint) adds nothing
    h2 = eng.streaming_rollup(
        "roll2",
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        partials_path=partials,
        checkpoint=str(tmp_path / "ckpt2"),
        ledger_dir=str(tmp_path / "ledger"),
    )
    h2.query.processAllAvailable()
    h2.stop()
    again = {(r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
             for r in Engine.rollup_read(spark, partials, "hour").collect()}
    assert again == want


def test_dedup_index_epoch_write_replay_is_idempotent(spark, tmp_path):
    """The ADVICE-r2 crash window: an epoch that wrote its survivors
    but died before the ledger marker must repair on replay, not append
    a second copy of the same survivor rows."""
    import shutil

    from selium_spark.engine import dedup_index_epoch_write

    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "ALPHA   beta")],
        "doc_id LONG, text STRING",
    )
    idx, surv = str(tmp_path / "index"), str(tmp_path / "survivors")

    def state():
        s = sorted(r["doc_id"] for r in spark.read.parquet(surv).collect())
        i = spark.read.parquet(idx)
        return s, i.count(), i.select("content_hash").distinct().count()

    # clean first write: in-batch dedup collapses 3 into 1
    dedup_index_epoch_write(spark, b1, 0, idx, surv)
    assert state() == ([1, 2], 2, 2)

    # crash case A: survivors committed, index partition lost (died
    # between the two writes) -> replay must rebuild both, no dupes
    shutil.rmtree(str(tmp_path / "index" / "epoch=0"))
    dedup_index_epoch_write(spark, b1, 0, idx, surv)
    assert state() == ([1, 2], 2, 2)

    # crash case B: both outputs committed, marker lost -> replay must
    # overwrite in place (the index read excludes epoch 0's own rows,
    # so the recomputed survivor set is identical, never empty)
    dedup_index_epoch_write(spark, b1, 0, idx, surv)
    assert state() == ([1, 2], 2, 2)

    # next epoch dedups against epoch 0's index as usual
    b2 = spark.createDataFrame(
        [(10, "alpha beta"), (11, "epsilon")], "doc_id LONG, text STRING"
    )
    dedup_index_epoch_write(spark, b2, 1, idx, surv)
    assert state() == ([1, 2, 11], 3, 3)


def test_windowed_count_restarts_from_local_checkpoint(spark, tmp_path):
    """A stateful windowed count started through ``Engine.start`` is
    stopped, given new input and restarted from the same checkpoint:
    the restarted query reads back the state deltas the first run
    committed, so its complete output equals the batch count over all
    input."""
    from selium_spark import Engine
    from selium_spark.fsutil import FS_CHECKPOINT_MANAGER

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(rows, "k STRING, ts STRING").withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.mode("append").parquet(src)

    def count(df):
        return df.groupBy(F.window("ts", "10 seconds").alias("w"), "k").count()

    def run(name):
        eng = Engine(spark)
        h = eng.start(
            name,
            count(spark.readStream.schema(schema).parquet(src)),
            checkpoint=ckpt,
            output_mode="complete",
            trigger_available_now=True,
        )
        try:
            assert h.query.awaitTermination(120)
            assert (
                h.query._jsq.streamingQuery().offsetLog().fileManager().getClass().getName()
                == FS_CHECKPOINT_MANAGER
            )
            return {(r.w.start, r.k, r["count"]) for r in spark.table(name).collect()}
        finally:
            eng.close()

    write([("a", "2024-01-01 00:00:01"), ("a", "2024-01-01 00:00:02"), ("b", "2024-01-01 00:00:11")])
    schema = spark.read.parquet(src).schema
    first = run("win_first")
    assert sorted(c for _, _, c in first) == [1, 2]

    # new input for an open window and a new one while the query is down
    write([("a", "2024-01-01 00:00:03"), ("c", "2024-01-01 00:00:25")])
    restarted = run("win_restarted")
    batch = {
        (r.w.start, r.k, r["count"]) for r in count(spark.read.parquet(src)).collect()
    }
    assert restarted == batch
    assert sorted(c for _, _, c in restarted) == [1, 1, 3]
