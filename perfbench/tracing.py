"""Traced runs: per-layer spans and counts, taken from outside the
program.

The tracer wraps the program's public layer entry points
(``load_table``, ``replay_to_memory``), counts py4j commands, listens to
streaming progress, and reads Spark's own event log. Each span sets the
Spark local property ``perfbench.phase`` so the event log's jobs carry
the layer that started them. Nothing inside ``selium_spark`` changes.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import threading
import time
from collections import Counter

from harness import Patches

PHASE_KEY = "perfbench.phase"

_PLAN_PATTERNS = {
    "exchanges": re.compile(r"(?<!Broadcast)Exchange "),
    "broadcasts": re.compile(r"BroadcastExchange "),
    "python_evals": re.compile(r"\b(ArrowEvalPython|BatchEvalPython|\w+InPandas|\w+InArrow)\b"),
    "scans": re.compile(r"\bFileScan "),
}

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_PY_NODE = re.compile(r"EvalPython|InPandas|InArrow")


class NullTracer:
    """The untraced run's tracer: every hook is a no-op."""

    def phase(self, name: str):
        return contextlib.nullcontext()

    def force_plan(self, df) -> None:
        pass


class Tracer:
    """Records spans at the layer boundaries of one traced run."""

    def __init__(self, spark, eventlog_dir: str):
        self.spark = spark
        self.eventlog_dir = eventlog_dir
        self.active = False
        self.totals: Counter = Counter()  # phase -> seconds
        self.self_s: Counter = Counter()  # phase -> seconds minus child spans
        self.calls: Counter = Counter()
        self.py4j: Counter = Counter()  # phase -> py4j commands
        self.plan_counts: Counter = Counter()
        self.progress: list[dict] = []
        self._stack: list[list] = []
        self._main = threading.get_ident()
        self._internal = False
        self._patches = Patches()

    @staticmethod
    def spark_conf(eventlog_dir: str) -> dict[str, str]:
        os.makedirs(eventlog_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            # uncompressed: the default codec (zstd) has no reader in the
            # Python standard library
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one plain file
        }

    # -- installation -----------------------------------------------------
    def install(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway

        import selium_spark.sources as sources_pkg
        import selium_spark.sources.tables as tables
        import selium_spark.streaming as streaming_pkg
        import selium_spark.streaming.replay as replay
        import selium_spark.suite as suite

        load_table = self._wrap(tables.load_table, "load_table")
        for mod in (tables, sources_pkg, suite):
            self._patches.set(mod, "load_table", load_table)
        replay_to_memory = self._wrap(replay.replay_to_memory, "replay")
        for mod in (replay, streaming_pkg):
            self._patches.set(mod, "replay_to_memory", replay_to_memory)
        for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
            self._patches.set(cls, "send_command", self._counting(cls.send_command))
        self._listener = _progress_listener(self.progress)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        self.spark.streams.removeListener(self._listener)
        self._patches.undo()

    def _wrap(self, fn, phase: str):
        def wrapped(*args, **kwargs):
            with self.phase(phase):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    def _counting(self, send):
        tracer = self

        def send_command(conn, command, *args, **kwargs):
            if tracer.active and not tracer._internal and threading.get_ident() == tracer._main:
                tracer.py4j[tracer._stack[-1][0] if tracer._stack else "other"] += 1
            return send(conn, command, *args, **kwargs)

        return send_command

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def phase(self, name: str):
        if not self.active:
            yield
            return
        self._set_phase(name)
        self._stack.append([name, time.perf_counter(), 0.0])
        try:
            yield
        finally:
            _, start, child = self._stack.pop()
            dur = time.perf_counter() - start
            self.totals[name] += dur
            self.self_s[name] += dur - child
            self.calls[name] += 1
            if self._stack:
                self._stack[-1][2] += dur
            self._set_phase(self._stack[-1][0] if self._stack else "window")

    def _set_phase(self, name: str) -> None:
        self._internal = True
        try:
            self.spark.sparkContext.setLocalProperty(PHASE_KEY, name)
        finally:
            self._internal = False

    def start_window(self) -> None:
        self.active = True
        self._set_phase("window")

    def end_window(self) -> None:
        self._set_phase("")
        self.active = False

    def force_plan(self, df) -> None:
        """Run Catalyst to the physical plan (timed as ``plan``) and
        count the plan's exchanges, broadcasts, Python evals and scans."""
        with self.phase("plan"):
            plan = df._jdf.queryExecution().executedPlan().toString()
        for key, pat in _PLAN_PATTERNS.items():
            self.plan_counts[key] += len(pat.findall(plan))

    # -- results ----------------------------------------------------------
    def eventlog(self, window: tuple[float, float] | None = None) -> dict:
        """Per-phase job counts and task totals of the timed window, read
        from the event log (see ``parse_eventlog``). Call after the
        SparkContext has stopped."""
        paths = glob.glob(os.path.join(self.eventlog_dir, "*"))
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {self.eventlog_dir}, found {paths}")
        return parse_eventlog(paths[0], window)


def _progress_listener(sink: list):
    """A streaming listener that appends every progress event to ``sink``
    as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Listener()


def parse_eventlog(path: str, window: tuple[float, float] | None = None) -> dict:
    """Jobs per ``perfbench.phase`` and task totals of the jobs that ran
    in the timed window: those with a phase set, or, given ``window``
    (wall-clock seconds), those submitted inside it (streaming jobs
    carry the phase of the thread that started their query)."""
    job_phase: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_span: dict[int, list[float]] = {}
    py_rows_ids: set[int] = set()  # "number of output rows" of Python eval nodes
    out: Counter = Counter()
    jobs: Counter = Counter()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _python_row_metrics(ev["sparkPlanInfo"], py_rows_ids)
            elif kind == "SparkListenerJobStart":
                phase = (ev.get("Properties") or {}).get(PHASE_KEY) or ""
                submitted = ev["Submission Time"] / 1000
                if window is not None:
                    if not window[0] <= submitted <= window[1]:
                        continue
                    phase = phase or "stream"
                elif not phase:
                    continue
                job = ev["Job ID"]
                job_phase[job] = phase
                jobs[phase] += 1
                job_span[job] = [submitted, submitted]
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                wall_ms = info["Finish Time"] - info["Launch Time"]
                out["tasks"] += 1
                out["task_run_s"] += m.get("Executor Run Time", 0) / 1000
                out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += m.get("JVM GC Time", 0) / 1000
                out["sched_delay_s"] += max(0, wall_ms - m.get("Executor Run Time", 0)
                                            - m.get("Executor Deserialize Time", 0)
                                            - m.get("Result Serialization Time", 0)) / 1000
                sr = m.get("Shuffle Read Metrics") or {}
                out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                inp = m.get("Input Metrics") or {}
                out["scan_bytes"] += inp.get("Bytes Read", 0)
                out["scan_rows"] += inp.get("Records Read", 0)
                for acc in info.get("Accumulables") or []:
                    if acc.get("Name") in _PY_BYTES:
                        out["python_bytes"] += int(acc.get("Update") or 0)
                    elif acc.get("ID") in py_rows_ids:
                        out["python_rows"] += int(acc.get("Update") or 0)
    out["jobs_wall_s"] = _union_length(job_span.values())
    return {"jobs": dict(jobs), **out}


def _python_row_metrics(node: dict, ids: set[int]) -> None:
    """Add the accumulator ids of every Python eval node's output-row
    count in a ``sparkPlanInfo`` tree to ``ids``."""
    if _PY_NODE.search(node.get("nodeName", "")):
        ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                   if m.get("name") == "number of output rows")
    for child in node.get("children", []):
        _python_row_metrics(child, ids)


def _union_length(spans) -> float:
    """Total length of the union of ``[start, end]`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def streaming_metrics(progress: list[dict]) -> dict:
    """Per-batch medians of the micro-batch phases and state totals."""
    import numpy as np

    def med(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return float(np.median(vals)) if vals else 0.0

    last_state: dict[str, list] = {}
    commit_ms = late = 0
    for p in progress:
        ops = p.get("stateOperators") or []
        last_state[p["id"]] = ops
        commit_ms += sum(op.get("commitTimeMs", 0) for op in ops)
        late += sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
    final = [op for ops in last_state.values() for op in ops]
    trigger_s = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000
    return {
        "batches": len(progress),
        "trigger_ms.p50": med("triggerExecution"),
        "planning_ms": med("queryPlanning"),
        "wal_commit_ms": med("walCommit"),
        "commit_offsets_ms": med("commitOffsets"),
        "latest_offset_ms": med("latestOffset"),
        "add_batch_ms": med("addBatch"),
        "state_rows": sum(op.get("numRowsTotal", 0) for op in final),
        "state_mb": sum(op.get("memoryUsedBytes", 0) for op in final) / 1e6,
        "state_commit_ms": commit_ms,
        "late_rows_dropped": late,
        "trigger_s_total": trigger_s,
        "drain_rows_per_s": sum(p["numInputRows"] for p in progress) / trigger_s if trigger_s else 0.0,
    }


def layer_metrics(tracer: Tracer, ev: dict, passes: int, window_s: float, cpus: int) -> dict:
    """The per-layer metrics shared by every workload, per pass."""
    per = 1.0 / max(passes, 1)
    jobs = ev["jobs"]
    st = streaming_metrics(tracer.progress)
    replay_s = tracer.totals["replay"]
    return {
        "sources.load_table_s": tracer.totals["load_table"] * per,
        "sources.load_table_calls": tracer.calls["load_table"] * per,
        "sources.inference_jobs": jobs.get("load_table", 0) * per,
        "sources.scan_bytes": ev.get("scan_bytes", 0) * per,
        "sources.scan_rows": ev.get("scan_rows", 0) * per,
        "operators.construct_s": tracer.self_s["construct"] * per,
        "operators.construct_jobs": jobs.get("construct", 0) * per,
        "operators.py4j_calls": (tracer.py4j["construct"] + tracer.py4j["load_table"]) * per,
        "spark.plan.s": tracer.totals["plan"] * per,
        **{f"spark.plan.{k}": tracer.plan_counts[k] * per for k in _PLAN_PATTERNS},
        "spark.exec.s": ev.get("jobs_wall_s", 0.0) * per,
        "spark.exec.tasks": ev.get("tasks", 0) * per,
        "spark.exec.task_run_s": ev.get("task_run_s", 0.0) * per,
        "spark.exec.task_cpu_s": ev.get("task_cpu_s", 0.0) * per,
        "spark.exec.gc_s": ev.get("gc_s", 0.0) * per,
        "spark.exec.sched_delay_s": ev.get("sched_delay_s", 0.0) * per,
        "spark.exec.busy_share": ev.get("task_run_s", 0.0) / (window_s * cpus),
        "spark.exec.shuffle_read_bytes": ev.get("shuffle_read_bytes", 0) * per,
        "spark.exec.shuffle_write_bytes": ev.get("shuffle_write_bytes", 0) * per,
        "spark.exec.spill_bytes": ev.get("spill_bytes", 0) * per,
        "functions.python_rows": ev.get("python_rows", 0) * per,
        "functions.python_bytes": ev.get("python_bytes", 0) * per,
        "streaming.replay_s": replay_s * per,
        "streaming.sink_materialize_s": max(0.0, replay_s - st["trigger_s_total"]) * per if replay_s else 0.0,
        "streaming.batches": st["batches"] * per,
        "streaming.drain_rows_per_s": st["drain_rows_per_s"],
        "streaming.state_rows": st["state_rows"] * per,
        "streaming.state_mb": st["state_mb"] * per,
        "streaming.state_commit_ms": st["state_commit_ms"] * per,
        "streaming.trigger_ms.p50": st["trigger_ms.p50"],
        "streaming.planning_ms": st["planning_ms"],
        "streaming.wal_commit_ms": st["wal_commit_ms"],
        "streaming.commit_offsets_ms": st["commit_offsets_ms"],
        "streaming.latest_offset_ms": st["latest_offset_ms"],
        "streaming.add_batch_ms": st["add_batch_ms"],
        "streaming.late_rows_dropped": st["late_rows_dropped"] * per,
    }
