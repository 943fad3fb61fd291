"""Open-loop streaming workload: a seeded generator thread writes event
files on a fixed schedule into a ``StreamCatalog`` endpoint, while a
stateful windowed query runs through ``Engine.start`` in park mode
(checkpointed parquet sink).

Each file is timed from its scheduled write time, so a stall also
counts against the files queued behind it. Events arrive out of order,
but never by more than the watermark delay, so no row is late.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import threading
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import WORK, BoxMonitor, RssSampler, cpu_count, pct, start_spark, stop_spark
from inputs import BASE_DIR
from tracing import Tracer, layer_metrics, streaming_metrics

#: files per second on the generator's schedule, and rows per file. The
#: rate sweep in ``capacity.py`` (reference/open_loop_capacity.json, 4
#: cores) keeps up with 4000-row files at 40 files/s and falls behind at
#: 80; this is a quarter of the rate it keeps up with
RATE = 10
ROWS_PER_FILE = 4000
#: the first micro-batches are slow (codegen, JIT, startup backlog);
#: files scheduled before this many batches have committed are not
#: timed. After 3 batches the window's latency still read about 20% high
WARMUP_BATCHES = 10
WARMUP_MAX_S = 60.0
#: event-time window and watermark delay of the query
WINDOW = "1 second"
WATERMARK = "3 seconds"
#: share of rows stamped before the newest event already written, and
#: how far before it they may fall (less than the watermark delay)
OUT_OF_ORDER = 0.2
MAX_LAG_S = 2.0
EVENT_EPOCH = dt.datetime(2024, 1, 1)

EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def transform(ev):
    """The windowed aggregate the engine runs; the batch check applies
    the same function to every generated file."""
    from pyspark.sql import functions as F

    from selium_spark.operators import relational, windows

    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = windows.tumbling(ev, "ts", WINDOW, keys=["event_type"], watermark=WATERMARK).agg(
        F.count(F.lit(1)).alias("n"), relational.dec_sum("value", "sum_value")
    )
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type", "n", "sum_value",
    )


class Generator(threading.Thread):
    """Writes file ``i`` at ``t_start + i / rate`` (wall clock), never
    waiting for the engine. Files appear atomically by rename."""

    def __init__(self, src_dir: str, seed: int, t_start: float, rate: float, rows_per_file: int):
        super().__init__(daemon=True)
        self.src_dir, self.t_start = src_dir, t_start
        self.rate, self.rows_per_file = rate, rows_per_file
        self.t_stop = float("inf")  # set by the caller once the window is known
        self.rng = np.random.default_rng(seed)
        base = pq.read_table(os.path.join(BASE_DIR, "events.parquet"))
        self.pool = base.select(["user_id", "event_type", "value", "props"])
        self.files: list[dict] = []  # path, scheduled, written, rows
        self.newest_us = 0
        self.out_of_order_rows = 0
        self.error: BaseException | None = None
        self._halt = threading.Event()

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def run(self) -> None:
        try:
            i = 0
            while not self._halt.is_set():
                due = self.t_start + i / self.rate
                if due >= self.t_stop:
                    return
                if self._halt.wait(max(0.0, due - time.time())):
                    return
                self._write(i, due)
                i += 1
        except BaseException as exc:  # surfaced by the caller after join
            self.error = exc

    def _event_times_us(self, i: int) -> np.ndarray:
        n = self.rows_per_file
        base_us = round(i / self.rate * 1e6)
        late = self.rng.random(n) < OUT_OF_ORDER
        ahead = self.rng.integers(0, round(1e6 / self.rate), n)
        behind = -self.rng.integers(1, round(MAX_LAG_S * 1e6), n)
        ts = base_us + np.where(late, behind, ahead)
        self.out_of_order_rows += int((ts < self.newest_us).sum())
        self.newest_us = max(self.newest_us, int(ts.max()))
        return np.maximum(ts, 0)

    def _write(self, i: int, due: float) -> None:
        n = self.rows_per_file
        rows = self.pool.take(self.rng.integers(0, self.pool.num_rows, n))
        epoch_us = int((EVENT_EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
        table = pa.table({
            "event_id": pa.array(np.arange(i * n, (i + 1) * n), pa.int64()),
            "ts": pa.array(self._event_times_us(i) + epoch_us, pa.timestamp("us")),
            **{c: rows.column(c) for c in rows.column_names},
        })
        name = f"ev-{i:06d}.parquet"
        tmp = os.path.join(self.src_dir, f".{name}.tmp")  # hidden from the file source
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.src_dir, name))
        self.files.append({"path": name, "scheduled": due, "written": time.time(),
                           "rows": n})


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it, from the file
    source's metadata log in the checkpoint."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    """Batch id -> wall time its commit-log entry was written."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "[0-9]*")):
        out[int(os.path.basename(path))] = os.path.getmtime(path)
    return out


def _progress_dicts(query) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


def drive(spark, seed: int, seconds: float, work: str, tracer=None,
          rate: float = RATE, rows_per_file: int = ROWS_PER_FILE) -> dict:
    """One open-loop pass: start the engine, warm up, time ``seconds``
    of scheduled files, drain, stop, and check the sink."""
    from selium_spark import Engine, StreamCatalog

    src, sink, ckpt = (os.path.join(work, d) for d in ("src", "sink", "ckpt"))
    for d in (src, sink):
        os.makedirs(d)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    catalog = StreamCatalog(spark)
    catalog.insert("sel://perfbench/events", src, schema=EVENTS_DDL)
    catalog.insert("sel://perfbench/windows", sink, schema=transform(
        spark.createDataFrame([], EVENTS_DDL)).schema)
    engine = Engine(spark, catalog)
    gen = None
    try:
        t = time.monotonic()
        handle = engine.start(
            "open_loop", transform(catalog.read_stream("sel://perfbench/events")),
            sink_uri="sel://perfbench/windows", checkpoint=ckpt, mode="park",
        )
        start_s = time.monotonic() - t
        t_gen = time.time()
        gen = Generator(src, seed, t_gen, rate, rows_per_file)
        gen.start()
        # warm-up: the first batches pay codegen and drain the startup
        # backlog; timing starts once WARMUP_BATCHES have committed
        deadline = t_gen + WARMUP_MAX_S
        while len(_commit_times(ckpt)) < WARMUP_BATCHES:
            if time.time() > deadline or gen.error is not None:
                raise RuntimeError(f"engine did not commit {WARMUP_BATCHES} batches "
                                   f"within {WARMUP_MAX_S} s") from gen.error
            time.sleep(0.02)
        t_window = time.time()
        t_end = t_window + seconds
        gen.t_stop = t_end
        if tracer is not None:
            tracer.start_window()
        gen.join()
        if tracer is not None:
            tracer.end_window()
        if gen.error is not None:
            raise gen.error
        handle.query.processAllAvailable()
        progress = _progress_dicts(handle.query)
        t = time.monotonic()
        engine.stop("open_loop")
        stop_s = time.monotonic() - t
    finally:
        if gen is not None:
            gen.stop()
        engine.close()

    batch_of, committed_at = _file_batches(ckpt), _commit_times(ckpt)
    trigger_s = {p["batchId"]: p["durationMs"].get("triggerExecution", 0) / 1000 for p in progress}
    timed = [f for f in gen.files if t_window <= f["scheduled"] < t_end]
    lost = [f["path"] for f in gen.files if batch_of.get(f["path"]) not in committed_at]
    lat, wait, backlog = [], [], 0
    for f in timed:
        b = batch_of.get(f["path"])
        if b not in committed_at:
            continue
        lat.append(committed_at[b] - f["scheduled"])
        wait.append(lat[-1] - trigger_s.get(b, 0.0))
        if committed_at[b] > t_end:
            backlog += 1
    window_batches = [
        p for p in progress
        if p["batchId"] in committed_at and t_window <= committed_at[p["batchId"]] <= t_end
    ]
    mismatch = _check_sink(spark, src, sink, progress)
    late = [f["written"] - f["scheduled"] for f in gen.files]
    return {
        "files": len(gen.files),
        "lost_files": lost,
        "sink_mismatch_rows": mismatch,
        "latency_s": lat,
        "queue_wait_s": wait,
        "backlog_files": backlog,
        # rows the engine committed in the window per second, and per
        # second of trigger time (its service rate while busy)
        "committed_rows_per_s": sum(p["numInputRows"] for p in window_batches) / seconds,
        "drain_rows_per_s": streaming_metrics(window_batches)["drain_rows_per_s"],
        "window_batches": window_batches,
        "window": (t_window, t_end),
        "start_s": start_s,
        "stop_s": stop_s,
        "generator_late_ms": {"p50": pct(late, 50) * 1000, "max": max(late) * 1000},
        "out_of_order_share": gen.out_of_order_rows / max(1, sum(f["rows"] for f in gen.files)),
    }


def _check_sink(spark, src: str, sink: str, progress: list[dict]) -> int:
    """Rows that differ between the sink and the batch computation of
    the same transform over every generated file, for the windows the
    final watermark has closed."""
    from pyspark.sql import functions as F

    wm = max(p["eventTime"].get("watermark", "1970-01-01T00:00:00.000Z")
             for p in progress if p.get("eventTime"))
    wm_ts = F.to_timestamp(F.lit(wm.replace("T", " ").rstrip("Z")))
    batch = transform(spark.read.schema(EVENTS_DDL).parquet(src)).where(F.col("window_end") <= wm_ts)
    want = Counter(tuple(r) for r in batch.collect())
    got = Counter(tuple(r) for r in spark.read.parquet(sink).collect())
    return sum(((want - got) + (got - want)).values())


def run(workload: str, seed: int, seconds: int, trace: bool, t0: float) -> dict:
    cpus = cpu_count()
    box = BoxMonitor()
    eventlog_dir = os.path.join(WORK, "eventlog")
    with RssSampler() as rss:
        t = time.monotonic()
        spark = start_spark(cpus, Tracer.spark_conf(eventlog_dir) if trace else None)
        get_spark_s = time.monotonic() - t
        tracer = Tracer(spark, eventlog_dir) if trace else None
        if tracer is not None:
            tracer.install()
        res = drive(spark, seed, seconds, os.path.join(WORK, "main"), tracer)
        setup_s = time.monotonic() - t0 - (time.time() - res["window"][0])
        if tracer is not None:
            tracer.uninstall()
            spark.stop()
            ev = tracer.eventlog(res["window"])
            # single-core baseline of the same job, same JVM, no event log
            spark = start_spark(1)
            base = drive(spark, seed, seconds, os.path.join(WORK, "local1"))
        stop_spark(spark)
    box_stats = box.summary()

    attempted = res["files"] + 1  # every file, plus the sink check
    failed = len(res["lost_files"]) + (res["sink_mismatch_rows"] > 0)
    lat_ms = [x * 1000 for x in res["latency_s"]]
    batches = res["window_batches"]
    metrics = {
        "setup_s": setup_s,
        "latency_ms.p50": pct(lat_ms, 50),
        "latency_ms.p90": pct(lat_ms, 90),
        "pass_s": pct([p["durationMs"]["triggerExecution"] / 1000 for p in batches], 50),
    }
    detail = {
        "rate_files_per_s": RATE,
        "rows_per_file": ROWS_PER_FILE,
        "files": res["files"],
        "samples": len(lat_ms),
        "latency_ms.p95": pct(lat_ms, 95),
        "backlog_files": res["backlog_files"],
        "committed_rows_per_s": res["committed_rows_per_s"],
        "drain_rows_per_s": res["drain_rows_per_s"],
        "lost_files": res["lost_files"][:20],
        "sink_mismatch_rows": res["sink_mismatch_rows"],
        "out_of_order_share": res["out_of_order_share"],
        "generator_late_ms": res["generator_late_ms"],
        "window_batches": len(batches),
        "run": {**box_stats, "peak_rss_mb": rss.peak_mb},
    }
    layers = None
    if trace:
        st = streaming_metrics(batches)
        layers = {
            "session.get_spark_s": get_spark_s,
            **layer_metrics(tracer, ev, 1, seconds, cpus),
            **{f"streaming.{k}": v for k, v in st.items() if k != "trigger_s_total"},
            "streaming.queue_wait_ms.p50": pct(res["queue_wait_s"], 50) * 1000,
            "engine.start_s": res["start_s"],
            "engine.stop_s": res["stop_s"],
            "engine.sink_write_ms": st["add_batch_ms"],
            "engine.rows_per_batch": pct([p["numInputRows"] for p in batches], 50),
            "run.peak_rss_mb": rss.peak_mb,
            "run.steal_pct": box_stats["steal_pct"],
            "run.loadavg_max": box_stats["loadavg_max"],
            "run.generator_late_ms.max": res["generator_late_ms"]["max"],
            "run.backlog_files": res["backlog_files"],
            "baseline.local1.latency_ms.p50": pct(base["latency_s"], 50) * 1000,
            "baseline.local1.drain_rows_per_s": base["drain_rows_per_s"],
            "baseline.local1.backlog_files": base["backlog_files"],
        }
        detail["eventlog"] = ev
        detail["baseline_local1"] = {k: base[k] for k in ("files", "backlog_files", "lost_files",
                                                          "sink_mismatch_rows")}
        attempted += base["files"] + 1
        failed += len(base["lost_files"]) + (base["sink_mismatch_rows"] > 0)
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "layers": layers, "detail": detail}
