"""Process-level plumbing shared by the workloads: the work directory,
the Spark session's lifetime, peak-RSS sampling, percentiles, run
validity (steal, loadavg) and the oracle comparison."""

from __future__ import annotations

import os
import shutil
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DRIVER_MEM_MB = 2048

sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))


def prepare_env() -> None:
    """Empty the work directory and keep every file Spark, its Python
    workers and ``tempfile`` write inside it. Must run before pyspark
    starts its JVM."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM (the launcher and the driver): temp files in WORK, and no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    )
    # Python workers import selium_spark by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    # the session default (48g) exceeds small boxes; a fixed heap cap
    # (at most a quarter of RAM) also keeps peak RSS comparable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(DRIVER_MEM_MB, _mem_total_mb() // 4)}m"


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(cpus: int, extra_conf: dict[str, str] | None = None):
    from selium_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        **(extra_conf or {}),
    }
    spark = get_spark(app_name="perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class RssSampler:
    """Peak summed RSS of this process and its descendants (the JVM and
    its Python workers), sampled every ``period_s``."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        parents: dict[int, int] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue  # exited while listed
            pid = int(entry)
            parents[pid] = int(fields["PPid"])
            rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
        # the JVM is this process's child and the Python workers are its
        members = {os.getpid()}
        changed = True
        while changed:
            changed = False
            for pid, ppid in parents.items():
                if ppid in members and pid not in members:
                    members.add(pid)
                    changed = True
        total = sum(rss.get(p, 0) for p in members)
        self.peak_kb = max(self.peak_kb, total)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``values``."""
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q))


class BoxMonitor:
    """Hypervisor steal and 1-min loadavg over a run, read the same way
    ``bench.py`` reads them."""

    def __init__(self):
        from bench import _stat_jiffies

        self._jiffies = _stat_jiffies
        self._start = _stat_jiffies()
        self.load_max = os.getloadavg()[0]

    def poll(self) -> None:
        self.load_max = max(self.load_max, os.getloadavg()[0])

    def summary(self) -> dict:
        from bench import _steal_pct

        self.poll()
        return {
            "steal_pct": _steal_pct(self._start, self._jiffies()) or 0.0,
            "loadavg_max": round(self.load_max, 2),
        }


def oracle_connection(sf_dir: str):
    import duckdb

    from selium_spark.catalog import StreamCatalog

    con = duckdb.connect()
    con.execute(f"SET threads = {cpu_count()}")
    for t in StreamCatalog.TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_mismatch(name: str, cols: list[str], rows: list[dict], con) -> str | None:
    """None when ``rows`` (a query's collected result) equal the DuckDB
    oracle's under the suite's canonical form; else the first difference."""
    from check_correctness import canon_rows

    from selium_spark.suite import ORACLES

    ddf = con.sql(ORACLES[name]).df()
    s_cols, d_cols = sorted(cols), sorted(ddf.columns.tolist())
    if s_cols != d_cols:
        return f"columns spark={s_cols} oracle={d_cols}"
    s_rows = canon_rows(rows, s_cols)
    d_rows = canon_rows(
        [dict(zip(ddf.columns, r)) for r in ddf.itertuples(index=False)], d_cols
    )
    if len(s_rows) != len(d_rows):
        return f"rowcount spark={len(s_rows)} oracle={len(d_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            return f"row {i}: spark={a} oracle={b}"
    return None


class Patches:
    """Attribute replacements that ``undo`` reverts, newest first."""

    def __init__(self):
        self._undo: list = []

    def set(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def undo(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
