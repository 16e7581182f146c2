"""Shared machinery of one benchmark run: the work directory, the input
generator process, the host-fitted Spark session, operation accounting,
peak memory, and the correctness oracles.

Everything a run writes lives under ``perfbench/_work`` in the checkout
(inputs, tables, Spark local and temp dirs, the event log) and is
removed when the run ends.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def canary_s() -> float:
    """A fixed single-thread integer loop; its time moves only with CPU
    availability. Logged with every run for diagnosis, never gated."""
    t0 = time.perf_counter()
    x = 0x9E3779B9
    for _ in range(1_000_000):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return time.perf_counter() - t0


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(round(q / 100.0 * len(v) + 0.5)) - 1))]


def summary(values: list[float]) -> dict:
    """Median and, where at least ten samples lie beyond it, p90."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    if len(values) >= 100:
        out["p90"] = pct(values, 90)
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def session_conf(traced: bool) -> dict[str, str]:
    """``get_spark`` overrides for this host: a driver heap well below
    host RAM (the session default is 48g), committed and touched up
    front (``-XX:+AlwaysPreTouch``) so peak RSS does not swing with which
    heap regions the collector happens to touch in a short run, and
    every Spark directory inside the work dir."""
    heap_gb = max(1, min(3, host_ram_bytes() // (4 << 30)))
    conf = {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{heap_gb}g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(WORK, "events")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def use_work_dirs() -> None:
    """Point every temp file of Python, the JVM and Spark into the work dir."""
    import tempfile

    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    tempfile.tempdir = os.environ["TMPDIR"]


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """State of one invocation: the session, op counts, measured values."""

    def __init__(self, seed: int, seconds: int, tracer=None):
        self.born = time.perf_counter()
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.cores = host_cores()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}  # end-to-end, by BENCHMARK.json name
        self.report: dict[str, object] = {}  # figures printed before the result
        self.layer: dict[str, float] = {}  # per-layer figures a workload measures
        self.spark = None
        self._gateway = None
        shutil.rmtree(WORK, ignore_errors=True)
        for d in ("tmp", "local", "warehouse", "events"):
            os.makedirs(os.path.join(WORK, d))
        use_work_dirs()

    def path(self, *parts: str) -> str:
        return os.path.join(WORK, *parts)

    # --- inputs ------------------------------------------------------------

    def prepare(self, jobs: list[dict]) -> None:
        """Write the run's inputs from its seed in a separate process
        while the session starts, then flush them so writeback never
        overlaps timed work."""
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "inputs.py"), json.dumps(jobs)],
            cwd=ROOT,
        )
        try:
            self.layer["session.get_spark_s"] = self.start_session()
        finally:
            rc = gen.wait()
        if rc != 0:
            raise subprocess.CalledProcessError(rc, gen.args)
        os.sync()

    # --- session -----------------------------------------------------------

    def start_session(self) -> float:
        """``get_spark`` on ``local[nproc]`` with a heap that fits this
        host; returns the seconds it took."""
        from crba_etl_spark import session

        conf = session_conf(self.tracer is not None)
        t0 = time.perf_counter()
        spark = session.get_spark(master=f"local[{self.cores}]", extra_conf=conf)
        took = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self._gateway = spark.sparkContext._gateway
        return took

    def begin_measure(self, setup_started: float) -> None:
        """End of set-up: record ``setup_s`` and start tracing."""
        self.metrics["setup_s"] = time.perf_counter() - setup_started
        self.report["measure_began_s"] = time.perf_counter() - self.born
        if self.tracer is not None:
            self.tracer.start()

    def end_measure(self) -> None:
        """End of the measured phase, before the correctness checks."""
        self.metrics["peak_rss_mb"] = self.peak_rss_mb()
        self.report["measure_ended_s"] = time.perf_counter() - self.born
        if self.tracer is not None:
            self.tracer.stop()

    def peak_rss_mb(self) -> float:
        kb = _hwm_kb("self")
        if self._gateway is not None:
            kb += _hwm_kb(self._gateway.proc.pid)
        return kb / 1024.0

    def stop_session(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(WORK, ignore_errors=True)

    # --- operations ----------------------------------------------------------

    def op(self, name: str, fn, *args, **kwargs):
        """Run one counted operation; an exception counts as a failure
        and returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """An oracle comparison: counted as an operation, a mismatch is a
        failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: oracle mismatch {detail}")


# --- correctness -------------------------------------------------------------

_SEP = "\x1f"


def spark_fingerprint(df) -> tuple[int, int, int]:
    """(rows, sum of md5 word 0, sum of md5 word 1) over every visible
    turn's (conv_id, turn_idx, ts, role, text, tool); equal multisets of
    turns give equal fingerprints."""
    from pyspark.sql import functions as F

    def s(c):
        return F.coalesce(F.col(c).cast("string"), F.lit("\x00"))

    h = F.md5(
        F.concat_ws(
            _SEP,
            s("conv_id"),
            s("turn_idx"),
            F.unix_micros(F.col("ts")).cast("string"),
            s("role"),
            s("text"),
            s("tool"),
        )
    )
    r = df.select(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("a"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("b"),
    ).agg(F.count(F.lit(1)), F.sum("a"), F.sum("b")).first()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def oracle_fingerprint(events_dir: str) -> tuple[int, int, int]:
    """The same fingerprint over ``gen.oracle_final`` (DuckDB replay)."""
    import duckdb

    from crba_etl_spark.gen import oracle_final

    exp = oracle_final(events_dir)
    con = duckdb.connect()
    con.register("exp", exp)

    def s(c):
        return f"coalesce(CAST({c} AS VARCHAR), chr(0))"

    h = (
        f"md5(concat_ws(chr(31), {s('conv_id')}, {s('turn_idx')}, "
        f"CAST(epoch_us(ts) AS VARCHAR), {s('role')}, {s('text')}, {s('tool')}))"
    )
    r = con.execute(
        f"SELECT count(*), sum(('0x' || substr({h}, 1, 8))::BIGINT), "
        f"sum(('0x' || substr({h}, 9, 8))::BIGINT) FROM exp"
    ).fetchone()
    con.close()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def value_hash(df) -> str:
    """Order-insensitive hash of a result frame: every cell stringified
    verbatim, rows sorted, as tests/test_entry_contract.py compares."""
    import hashlib

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    rows = sorted("|".join(r) for r in df.values.tolist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()
