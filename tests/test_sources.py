"""S7 HTTP ingest adapter + capability catalog tests."""

from __future__ import annotations

import json
import urllib.request

import pytest

from selium_spark.catalog import CapabilityError, StreamCatalog
from selium_spark.sources.http_ingest import HttpIngest


def test_http_ingest_to_stream_table(spark, tmp_path):
    stream_dir = str(tmp_path / "http_requests")
    (tmp_path / "http_requests").mkdir()
    with HttpIngest(stream_dir) as srv:
        for i in range(3):
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/api/item/{i}",
                data=json.dumps({"n": i}).encode(),
                method="POST",
            )
            with urllib.request.urlopen(req, timeout=5) as resp:
                assert resp.status == 202
                assert json.loads(resp.read())["accepted"] == i
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/health", timeout=5
        ) as resp:
            assert resp.status == 202
        assert srv.flush() == 4

    df = spark.read.parquet(stream_dir)
    rows = {r.request_id: r for r in df.collect()}
    assert len(rows) == 4
    assert rows[1].method == "POST" and rows[1].path == "/api/item/1"
    assert json.loads(rows[2].body) == {"n": 2}
    assert rows[3].method == "GET" and rows[3].body == ""
    # the adapter's table is a normal streaming source
    stream = spark.readStream.schema(df.schema).parquet(stream_dir)
    assert stream.isStreaming


def test_capability_catalog(spark, catalog):
    restricted = catalog.restrict(["sel://testdata/events", "sel://testdata/nation"])
    assert restricted.read("sel://testdata/events").count() > 0
    with pytest.raises(CapabilityError):
        restricted.read("sel://testdata/lineitem")
    with pytest.raises(CapabilityError):
        restricted.read_stream("sel://testdata/orders")
    # pattern lookup only surfaces granted entries
    assert {e.uri for e in restricted.lookup("sel://testdata/*")} == {
        "sel://testdata/events",
        "sel://testdata/nation",
    }


def test_capability_catalog_works_with_engine(spark, catalog, tmp_path):
    from selium_spark import Engine

    restricted = catalog.restrict(["sel://testdata/events"])
    eng = Engine(spark, catalog)
    df = restricted.read_stream("sel://testdata/events")
    handle = eng.start(
        "capq", df.select("event_id"), checkpoint=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    handle.query.awaitTermination(120)
    assert spark.table("capq").count() > 0
    if handle.query.isActive:
        handle.stop()


def test_kafka_options_and_gating(spark):
    """Kafka adapter (SURVEY §8 TODO 4): option-building semantics are
    pure-python-tested; DataFrame entry points fail clearly without the
    connector jar (import-gated, per driver environment rules)."""
    from selium_spark.sources import kafka

    park = kafka.reader_options("b1:9092,b2:9092", "events", mode="park",
                                max_offsets_per_trigger=10_000)
    assert park["startingOffsets"] == "earliest"
    assert park["failOnDataLoss"] == "true"
    assert park["maxOffsetsPerTrigger"] == "10000"
    drop = kafka.reader_options("b1:9092", "events", mode="drop")
    # weak reader: laps (expired offsets) are skipped, not fatal
    assert drop["startingOffsets"] == "latest"
    assert drop["failOnDataLoss"] == "false"
    try:
        kafka.reader_options("b", "t", mode="weak")
        raise AssertionError("bad mode accepted")
    except ValueError:
        pass
    assert kafka.writer_options("b1:9092", "alerts")["topic"] == "alerts"
    if not kafka.kafka_available(spark):
        try:
            kafka.read_stream(spark, "b1:9092", "events")
            raise AssertionError("expected RuntimeError without kafka jar")
        except RuntimeError as exc:
            assert "--packages" in str(exc)


def test_socket_source_live(spark, tmp_path):
    """S7 live mode: a TCP line server feeds Spark's socket source; the
    engine sees each line as one frame with an ingest timestamp."""
    import time as _time

    from selium_spark.sources.socket_source import LineServer, socket_lines

    with LineServer() as srv:
        stream = socket_lines(spark, srv.host, srv.port)
        query = (
            stream.writeStream.queryName("socket_live")
            .format("memory")
            .outputMode("append")
            .start()
        )
        try:
            assert srv.wait_consumer(30), "socket source never connected"
            srv.send_lines(["alpha", "beta", "gamma"])
            deadline = _time.monotonic() + 60
            while _time.monotonic() < deadline:
                query.processAllAvailable()
                got = {r.value for r in spark.table("socket_live").collect()}
                if {"alpha", "beta", "gamma"} <= got:
                    break
                _time.sleep(0.5)
            rows = spark.table("socket_live").collect()
            assert {r.value for r in rows} >= {"alpha", "beta", "gamma"}
            assert all(r.ingest_ts is not None for r in rows)
        finally:
            query.stop()


def test_catalog_reads_jsonl_and_csv_channels(spark, tmp_path):
    """The Atlas registry is format-agnostic: JSONL and CSV endpoints
    ride the same subscribe surface (batch AND streaming) as parquet —
    the reference's 'any byte stream, schema at the catalog' posture."""
    import json as _json

    from selium_spark.catalog import StreamCatalog

    jl = tmp_path / "ev.jsonl"
    jl.write_text("\n".join(_json.dumps({"id": i, "kind": "a" if i % 2 else "b"}) for i in range(10)))
    cs = tmp_path / "dim.csv"
    cs.write_text("k,v\n1,x\n2,y\n")

    cat = StreamCatalog(spark)
    cat.insert("sel://raw/events_jl", str(jl), schema="id LONG, kind STRING", fmt="json")
    cat.insert("sel://raw/dim_csv", str(cs), schema="k LONG, v STRING", fmt="csv")

    ev = cat.read("sel://raw/events_jl")
    assert ev.count() == 10
    assert {r["kind"] for r in ev.collect()} == {"a", "b"}
    # csv: schema applies, header row skipped via option on the entry
    dim = spark.read.schema("k LONG, v STRING").option("header", "true").csv(str(cs))
    assert dim.count() == 2

    # streaming subscribe on the JSONL channel drains through a sink
    from selium_spark.streaming.replay import replay_to_memory

    out = replay_to_memory(
        spark, str(jl), "id LONG, kind STRING",
        lambda s: s.groupBy("kind").count(),
        output_mode="complete", fmt="json",
    )
    assert {(r["kind"], r["count"]) for r in out.collect()} == {("a", 5), ("b", 5)}


def test_catalog_reads_orc_channels(spark, tmp_path):
    """ORC endpoints ride the same catalog surface as parquet — Spark's
    built-in columnar alternative (no external package), with predicate
    pushdown and splittable stripes at scale. Batch and streaming
    subscribe both work off the registered fmt."""
    from selium_spark.catalog import StreamCatalog
    from selium_spark.streaming.replay import replay_to_memory

    src = str(tmp_path / "ev_orc")
    spark.range(20).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS kind"
    ).write.orc(src)

    cat = StreamCatalog(spark)
    cat.insert("sel://raw/events_orc", src, fmt="orc")  # schema inferred

    ev = cat.read("sel://raw/events_orc")
    assert ev.count() == 20
    assert dict(ev.groupBy("kind").count().collect()) == {"even": 10, "odd": 10}

    out = replay_to_memory(
        spark, src, "id LONG, kind STRING",
        lambda s: s.groupBy("kind").count(),
        output_mode="complete", fmt="orc",
    )
    assert {(r["kind"], r["count"]) for r in out.collect()} == {
        ("even", 10), ("odd", 10),
    }


# -- parquet schema cache (sources.tables.table_schema) ----------------------


def _jobs_started(spark, fn) -> int:
    """Spark jobs that ``fn()`` starts, counted through a job group. A
    marker job in a second group flushes the listener bus first: once the
    status tracker sees it, it has seen every earlier job."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"schema_cache_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
        sc.setJobGroup(group + "_marker", "marker")
        sc.parallelize([1], 1).count()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "_marker"):
        assert time.monotonic() < deadline, "marker job never reached the status tracker"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def _write_arrow(path, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), str(path))


def test_warm_load_table_starts_no_jobs(spark, catalog, tmp_path):
    import shutil

    from selium_spark.sources.tables import load_table

    shutil.copy(catalog.get("sel://testdata/nation").path, tmp_path / "nation.parquet")
    sf_dir = str(tmp_path)
    assert _jobs_started(spark, lambda: load_table(spark, sf_dir, "nation")) >= 1
    assert _jobs_started(spark, lambda: load_table(spark, sf_dir, "nation")) == 0
    warm = load_table(spark, sf_dir, "nation")
    inferred = spark.read.parquet(f"{sf_dir}/nation.parquet")
    assert warm.schema == inferred.schema
    assert sorted(warm.collect()) == sorted(inferred.collect())


def test_table_schema_sees_rewrites(spark, tmp_path):
    """A new length or a new modification time is a new file version."""
    import os

    from selium_spark.sources.tables import table_schema

    path = tmp_path / "t.parquet"
    _write_arrow(path, {"a": [1, 2, 3]})
    assert table_schema(spark, str(path)).names == ["a"]
    _write_arrow(path, {"a": [1, 2, 3], "b": [4, 5, 6]})  # longer file
    assert table_schema(spark, str(path)).names == ["a", "b"]

    before = os.stat(path)
    _write_arrow(path, {"a": [1, 2, 3], "c": [4, 5, 6]})
    assert os.stat(path).st_size == before.st_size  # only the mtime tells
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 5_000_000_000))
    assert table_schema(spark, str(path)).names == ["a", "c"]


def test_table_schema_key_includes_inference_confs(spark, tmp_path):
    import pyarrow as pa
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    from selium_spark.sources.tables import table_schema

    events = str(tmp_path / "events.parquet")
    _write_arrow(events, {
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_000_000_123, 1_700_000_000_000_000_456], pa.timestamp("ns")),
    })
    blobs = str(tmp_path / "blobs.parquet")
    _write_arrow(blobs, {"b": pa.array([b"x", b"y"], pa.binary())})
    nanos, binary = "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString"
    saved = {k: spark.conf.get(k) for k in (nanos, binary)}
    try:
        spark.conf.set(nanos, "true")
        assert isinstance(table_schema(spark, events)["ts"].dataType, T.LongType)
        spark.conf.set(nanos, "false")  # a cached LongType would be wrong here
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            table_schema(spark, events)
        spark.conf.set(nanos, "true")
        assert isinstance(table_schema(spark, events)["ts"].dataType, T.LongType)

        spark.conf.set(binary, "false")
        assert isinstance(table_schema(spark, blobs)["b"].dataType, T.BinaryType)
        spark.conf.set(binary, "true")
        assert isinstance(table_schema(spark, blobs)["b"].dataType, T.StringType)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_table_schema_directory_bypasses_cache(spark, tmp_path):
    from selium_spark.sources.tables import table_schema

    src = str(tmp_path / "dir_table")
    spark.range(3).write.parquet(src)
    for _ in range(2):  # every call infers: a directory is never cached
        assert _jobs_started(spark, lambda: table_schema(spark, src)) >= 1


def test_no_inline_parquet_schema_reads():
    """Every parquet schema read in the package goes through
    ``table_schema``, so new streaming twins get the cache."""
    import ast
    import pathlib

    import selium_spark

    root = pathlib.Path(selium_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.relative_to(root).as_posix() == "sources/tables.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "table_schema":
                    allowed.update(range(node.lineno, node.end_lineno + 1))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute) and node.attr == "schema"
                and isinstance(node.value, ast.Call)
                and isinstance(node.value.func, ast.Attribute)
                and node.value.func.attr == "parquet"
                and isinstance(node.value.func.value, ast.Attribute)
                and node.value.func.value.attr == "read"
                and node.lineno not in allowed
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, f"use sources.tables.table_schema instead: {offenders}"
