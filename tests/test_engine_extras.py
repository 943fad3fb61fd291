"""P3 singletons, S11 log stream, S3 drop-mode loss accounting."""

from __future__ import annotations

from pyspark.sql import functions as F

from selium_spark import Engine, StreamCatalog

from conftest import SF_DIR


def test_singletons(spark):
    eng = Engine(spark)
    cfg = {"window": "1 hour"}
    eng.register_singleton("alert_config", cfg)
    assert eng.singleton("alert_config") is cfg
    df = spark.range(3)
    eng.register_singleton("shared_range", df)
    assert spark.table("global_temp.shared_range").count() == 3


def test_log_stream_records_progress(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    cat = StreamCatalog(spark)
    cat.insert("sel://logs/in", src)
    eng = Engine(spark, cat)
    handle = eng.start(
        "logged_query",
        cat.read_stream("sel://logs/in"),
        checkpoint=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    handle.query.awaitTermination(120)
    import time

    rows = {}
    for _ in range(50):  # listener events are delivered asynchronously
        rows = {r.query: r.num_input_rows for r in eng.log_stream().collect()}
        if rows.get("logged_query"):
            break
        time.sleep(0.2)
    assert rows.get("logged_query") == 10
    if handle.query.isActive:
        handle.stop()


def test_drop_mode_weak_reader_loss_is_reported(spark, tmp_path):
    """S3 weak reader: a drop-mode query that starts late misses
    backlog; the loss is observable (consumed < published), mirroring
    ChannelError::ReaderBehind — loss surfaces, never silent."""
    src = str(tmp_path / "topic")
    # publisher writes 2 frame-batches before the weak reader attaches
    spark.range(0, 50).write.mode("append").parquet(src)
    spark.range(50, 100).write.mode("append").parquet(src)

    cat = StreamCatalog(spark)
    cat.insert("sel://weak/topic", src, mode="drop")
    eng = Engine(spark, cat)

    # weak subscribe: latestFirst + tiny trigger budget, no replay
    # guarantee; here we bound consumption to 1 file per (single) trigger
    stream = (
        spark.readStream.schema(cat.get("sel://weak/topic").schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "true")
        .parquet(src)
    )
    handle = eng.start(
        "weak_reader",
        stream,
        checkpoint=str(tmp_path / "ckpt"),  # positional trigger bookkeeping
        trigger_available_now=False,
        output_mode="append",
    )
    # one micro-batch only, then terminate (the reader is lapped)
    deadline_rows = None
    import time

    # poll the real condition with a load-sized deadline (8a9fc79
    # pattern): 60 s under suite load, exits on first progress event
    for _ in range(300):
        time.sleep(0.2)
        consumed = eng.loss_listener.rows_by_query.get("weak_reader", 0)
        if consumed:
            deadline_rows = consumed
            break
    handle.stop()
    published = spark.read.parquet(src).count()
    assert published == 100
    assert deadline_rows is not None and deadline_rows < published
    loss = published - deadline_rows
    assert loss > 0  # ReaderBehind(n) analogue: loss quantified, not hidden


def test_concurrent_named_queries(spark, tmp_path):
    """Two engine queries run concurrently over the same source (the
    multi-process selium runtime shape: N guests on one channel)."""
    src = str(tmp_path / "multi")
    spark.range(100).withColumn("v", F.col("id") * 2).write.parquet(src)
    cat = StreamCatalog(spark)
    cat.insert("sel://multi/in", src)
    eng = Engine(spark, cat)
    h1 = eng.start("consumer_a", cat.read_stream("sel://multi/in").where(F.col("id") % 2 == 0),
                   checkpoint=str(tmp_path / "c1"), trigger_available_now=True)
    h2 = eng.start("consumer_b", cat.read_stream("sel://multi/in").where(F.col("id") % 2 == 1),
                   checkpoint=str(tmp_path / "c2"), trigger_available_now=True)
    h1.query.awaitTermination(120)
    h2.query.awaitTermination(120)
    a = spark.table("consumer_a").count()
    b = spark.table("consumer_b").count()
    assert (a, b) == (50, 50)  # taps don't consume: both saw everything
    for h in (h1, h2):
        if h.query.isActive:
            h.stop()


def test_foreach_concurrent_overlaps_and_processes_all(spark, tmp_path):
    # T9 (for_each_concurrent, examples/load-balancer/src/lib.rs:52-61):
    # 8 records in ONE partition, each effect sleeps 0.3s. Sequential
    # draining costs 2.4s; 4-way overlap costs ~0.6s. The effect files
    # prove every record ran; the wall-clock bound proves the overlap.
    import glob
    import time

    from selium_spark.engine import foreach_concurrent

    probe = str(tmp_path / "probe")
    import os

    os.makedirs(probe)
    df = spark.range(8).coalesce(1)

    def effect(row):
        time.sleep(0.3)
        with open(f"{probe}/{row.id}", "w") as f:
            f.write("done")

    # warm the Python worker path OUTSIDE the timed window: the bound
    # below measures within-task overlap, and a cold worker spin-up
    # (~1-3 s on a loaded box) would dominate it (surfaced when the
    # r13 fast-set trim removed the module's earlier worker-warming
    # tests from the default run order)
    foreach_concurrent(spark.range(1).coalesce(1), lambda row: None, 2)

    t0 = time.monotonic()
    foreach_concurrent(df, effect, max_concurrency=4)
    wall = time.monotonic() - t0
    assert sorted(os.path.basename(p) for p in glob.glob(f"{probe}/*")) == [
        str(i) for i in range(8)
    ]
    assert wall < 2.0, f"no within-task overlap: {wall:.2f}s for 8x0.3s/4-way"


def test_foreach_concurrent_propagates_worker_errors(spark):
    import pytest

    from selium_spark.engine import foreach_concurrent

    def boom(row):
        if row.id == 3:
            raise RuntimeError("record 3 failed")

    with pytest.raises(Exception, match="record 3 failed"):
        foreach_concurrent(spark.range(5).coalesce(1), boom, max_concurrency=2)


def test_foreach_concurrent_sink_streaming(spark, tmp_path):
    # streaming T9: every micro-batch record hits the side effect
    import glob
    import os

    from selium_spark import Engine, StreamCatalog

    src = str(tmp_path / "src")
    spark.range(6).write.parquet(src)
    probe = str(tmp_path / "probe")
    os.makedirs(probe)
    cat = StreamCatalog(spark)
    cat.insert("sel://t9/in", src)
    eng = Engine(spark, cat)

    def effect(row):
        with open(f"{probe}/{row.id}", "w") as f:
            f.write("done")

    h = eng.foreach_concurrent_sink(
        "t9_sink",
        cat.read_stream("sel://t9/in"),
        effect,
        max_concurrency=8,
        checkpoint=str(tmp_path / "ckpt"),
    )
    h.query.processAllAvailable()
    h.stop()
    assert len(glob.glob(f"{probe}/*")) == 6


def test_engine_listener_lifecycle_bounded(spark):
    """Engines must not leak their loss listeners on the shared
    session: a leaked StreamingQueryListener receives EVERY future
    progress event through the Py4J callback server, so a long-lived
    session constructing Engines (each pytest here, every notebook
    re-run in production) accumulates per-event fan-out without bound
    — observed starving a fresh query's progress events past a 60 s
    deadline ~200 tests into a session. close() deregisters eagerly;
    dropped Engines are swept at the next Engine construction."""
    import gc

    from selium_spark.engine import _LISTENER_REGISTRY

    jcount = lambda: len(spark.streams._jsqm.listListeners())  # noqa: E731
    # flush listeners leaked by earlier tests' dropped Engines so the
    # deltas below are not offset by a sweep firing mid-measurement
    gc.collect()
    Engine(spark).close()
    base = jcount()
    engines = [Engine(spark) for _ in range(4)]
    assert jcount() - base == 4

    engines[0].close()
    assert jcount() - base == 3
    engines[0].close()  # idempotent
    assert jcount() - base == 3

    del engines
    gc.collect()
    with Engine(spark) as eng:
        # construction swept the three dropped engines' listeners
        assert jcount() - base == 1
        assert sum(1 for r, _, _ in _LISTENER_REGISTRY if r() is eng) == 1
    assert jcount() - base == 0


def test_drain_raises_when_the_query_failed(spark, tmp_path):
    """A failed query must not drain as if it finished: drain stops it
    and raises its error at once instead of retrying to the deadline."""
    import time

    import pytest
    from pyspark.errors import StreamingQueryException

    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    cat = StreamCatalog(spark)
    cat.insert("sel://failing/in", src)
    eng = Engine(spark, cat)
    failing = cat.read_stream("sel://failing/in").select(
        F.raise_error(F.lit("drain test failure")).alias("x")
    )
    handle = eng.start("failing_query", failing, checkpoint=str(tmp_path / "ckpt"))
    t0 = time.monotonic()
    with pytest.raises(StreamingQueryException, match="drain test failure"):
        handle.drain(timeout_s=30)
    assert time.monotonic() - t0 < 15
    assert not handle.query.isActive
    eng.close()


def test_python_workers_import_the_package_from_any_cwd(tmp_path):
    """``get_spark`` puts the package on its Python workers' PYTHONPATH
    (after the caller's own value), so a UDF that imports selium_spark
    runs from a cwd outside the repo with PYTHONPATH unset."""
    import os
    import pathlib
    import subprocess
    import sys

    import selium_spark

    root = pathlib.Path(selium_spark.__file__).resolve().parent.parent
    script = f"""
import os, sys
sys.path.insert(0, {str(root)!r})
from selium_spark import suite
from selium_spark.session import PACKAGE_ROOT, get_spark
spark = get_spark(cpus=2, extra_conf={{"spark.executorEnv.PYTHONPATH": "/opt/extra"}})
spark.sparkContext.setLogLevel("ERROR")
conf = spark.conf.get("spark.executorEnv.PYTHONPATH")
assert conf == "/opt/extra" + os.pathsep + PACKAGE_ROOT, conf
print("ROWS", suite.wasm_udf_lcg_bucket(spark, {SF_DIR!r}).count())
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS 16" in out.stdout
