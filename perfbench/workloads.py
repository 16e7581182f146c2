"""The benchmark's three workloads.

Each takes a :class:`harness.Run`, sets up (session, seeded inputs,
warmup), measures, fills ``run.metrics`` with every end-to-end metric of
BENCHMARK.json, and then checks its outputs against the DuckDB oracles
outside the timed region.

Common end-to-end metrics, each defined per workload:

- ``setup_s``: cold session start + input generation + warmup.
- ``throughput_per_s``: events applied per second of replay wall time
  (dedup_ingest), events per second of batch apply time summed over the
  stream's measured batches (trickle_rw, whose offered rate is fixed),
  or queries completed per second (operator_queries).
- ``latency_s_p50``: median wait for one unit of work to become visible:
  an epoch's apply until its commit (dedup_ingest), an
  epoch's scheduled publish time until its commit (trickle_rw), or one
  warm pass over the query set (operator_queries).
- ``read_s_p50``: median per-conversation lookup on the engine's table
  (after ingest, or concurrent with it on trickle_rw) or median single
  query (operator_queries).
- ``table_bytes``: data + delta (+ index) bytes the table holds at the
  end, or the bytes of the query inputs.
- ``peak_rss_mb``: peak RSS of this Python process plus the driver JVM,
  read before the correctness checks.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time

from concurrent.futures import ThreadPoolExecutor

from harness import dir_bytes, oracle_fingerprint, spark_fingerprint, summary, value_hash

TEXT_PAD = 256  # ~290-char turn texts, like agent transcripts

TRICKLE_EPOCH_EVENTS = 2_500
TRICKLE_WARM_EPOCHS = 2
# fixed publish period, the same on every commit: about half the seed
# commit's capacity of one epoch per batch on a 4-core host (see
# BENCHMARK.json), so a host slowed by a quarter still keeps up
TRICKLE_PERIOD_S = 2.5
# reads run on their own grid, the publish period over the golden ratio
# squared, so successive reads land at evenly spread phases of the
# apply/compaction cycle; reads tied to a few phases would make both the
# read and the freshness medians jump between modes from run to run
TRICKLE_READ_EVERY_S = TRICKLE_PERIOD_S * 0.381966
TRICKLE_SCAN_EVERY = 4  # every 4th read slot is a full scan
TRICKLE_BUCKETS = 8
TRICKLE_MAX_DELTAS = 4

DEDUP_EPOCH_EVENTS = 800
# caps conversation length: with ~560 turns per epoch one Zipf draw could
# otherwise hold most of the stream, and the seed alone would swing the
# near-dup graph (and each epoch's cost) by a fifth
DEDUP_MAX_TURNS = 40
DEDUP_BUCKETS = 8

HEADLINE = [
    "cdc_replay_reduce",
    "cdc_latest_per_key",
    "sessionize",
    "pricing_summary",
    "revenue_by_nation",
    "minhash_lsh_candidates",
    "cosine_topk",
]
QUERY_SCALE = 0.15  # of the sf0.1 test tables
QUERY_WARM_SCALE = 0.05
QUERY_TABLES = ["events", "lineitem", "orders", "customer", "nation", "documents", "embeddings"]
N_LOOKUPS = 4


def _hot_ids(stream_dir: str) -> list[str]:
    with open(os.path.join(stream_dir, "_hot.json")) as f:
        return json.load(f)


def _lookup(run, eng, conv_id: str) -> int:
    """One per-conversation read of the resolved table."""
    from pyspark.sql import functions as F

    def go():
        return eng.read_final().filter(F.col("conv_id") == conv_id).count()

    if run.tracer is None or not run.tracer.active:
        return go()
    deltas = eng.table.deltas()
    run.tracer.count("read.calls")
    run.tracer.count("read.delta_files", sum(len(v) for v in deltas.values()))
    run.layer["icelite.max_deltas_per_bucket_at_read"] = max(
        run.layer.get("icelite.max_deltas_per_bucket_at_read", 0),
        max((len(v) for v in deltas.values()), default=0),
    )
    with run.tracer.span("icelite.read"):
        return go()


def _scan(run, eng) -> int:
    """A full resolved-table aggregate."""
    from pyspark.sql import functions as F

    def go():
        r = eng.read_final().agg(
            F.count(F.lit(1)), F.sum(F.length("text")), F.countDistinct("conv_id")
        ).first()
        return int(r[0])

    if run.tracer is None or not run.tracer.active:
        return go()
    with run.tracer.span("icelite.read"):
        return go()


def _timed(run, name, fn, *args):
    t0 = time.perf_counter()
    out = run.op(name, fn, *args)
    return out, time.perf_counter() - t0


def _table_bytes(root: str) -> int:
    return dir_bytes(os.path.join(root, "data")) + dir_bytes(os.path.join(root, "index"))


def _manifest_bytes(eng) -> float:
    snaps = os.path.join(eng.table.root, "snapshots")
    return float(os.path.getsize(os.path.join(snaps, eng.table.io.read_current())))


def _check_table(run, eng, events_dir: str) -> None:
    """Final table vs ``gen.oracle_final``; the DuckDB oracle runs in a
    thread while Spark computes the table's fingerprint."""
    with ThreadPoolExecutor(1) as pool:
        oracle = pool.submit(oracle_fingerprint, events_dir)
        got = run.op("fingerprint", spark_fingerprint, eng.read_final())
        exp = run.op("oracle", oracle.result)
    run.check("final_table", got is not None and got == exp, f"{got} != {exp}")


def _closed_replay(run, eng, stream: str, epochs: list[int]) -> None:
    """Shared measured phase of the closed-loop ingest workloads: apply
    one epoch after another, then per-conversation lookups."""
    walls, events = [], 0
    for k in epochs:
        res, wall = _timed(run, f"epoch {k}", eng.replay, stream, [k])
        walls.append(wall)
        if res is not None:
            events += res["events_applied"]
    run.metrics["throughput_per_s"] = events / sum(walls)
    run.metrics["latency_s_p50"] = statistics.median(walls)
    run.report["apply_events_per_s"] = run.metrics["throughput_per_s"]
    run.report["epoch_s"] = summary(walls)
    reads = [_timed(run, "lookup", _lookup, run, eng, c)[1] for c in _hot_ids(stream)[:N_LOOKUPS]]
    run.metrics["read_s_p50"] = statistics.median(reads)
    run.report["lookup_s"] = summary(reads)
    run.end_measure()
    run.metrics["table_bytes"] = float(_table_bytes(eng.table.root))
    run.layer["icelite.manifest_bytes"] = _manifest_bytes(eng)


# --- dedup_ingest --------------------------------------------------------------


def dedup_epochs(seconds: int) -> int:
    return max(1, seconds // 20)


def dedup_ingest(run) -> None:
    import pyarrow.parquet as pq

    from crba_etl_spark.engine import CDCEngine

    n = dedup_epochs(run.seconds)
    stream = run.path("stream")
    t0 = time.perf_counter()
    run.prepare(
        [
            {
                "kind": "stream",
                "dir": stream,
                "spec": {
                    "seed": run.seed,
                    "n_events": (n + 1) * DEDUP_EPOCH_EVENTS,
                    "n_epochs": n + 1,
                    "text_pad": TEXT_PAD,
                    "max_turns": DEDUP_MAX_TURNS,
                },
            }
        ]
    )
    eng = CDCEngine(run.spark, run.path("table"), n_buckets=DEDUP_BUCKETS, dedup_labels=True)
    eng.replay(stream, [0])  # warmup epoch, part of the table
    run.begin_measure(t0)

    _closed_replay(run, eng, stream, list(range(1, n + 1)))

    def rows(files):
        return sum(pq.ParquetFile(os.path.join(eng.table.root, f)).metadata.num_rows for f in files)

    run.layer["band_index.band_rows"] = float(rows(eng.lsh_index.files()))
    run.layer["band_index.label_rows"] = float(rows(eng.dedup_labels.files()))
    _check_table(run, eng, stream)


# --- trickle_rw ----------------------------------------------------------------


def trickle_epochs(seconds: int) -> int:
    return max(4, int(round(seconds / TRICKLE_PERIOD_S)))


def _first_commit_times(table_root: str) -> dict[int, float]:
    """Epoch -> mtime of the first manifest whose committed set holds it
    (read after the run, from outside the engine)."""
    snaps = os.path.join(table_root, "snapshots")
    first: dict[int, float] = {}
    for name in sorted(os.listdir(snaps)):
        if not name.startswith("snapshot-"):
            continue
        p = os.path.join(snaps, name)
        with open(p) as f:
            committed = json.load(f).get("committed_epochs", [])
        mt = os.path.getmtime(p)
        for k in committed:
            first.setdefault(int(k), mt)
    return first


def trickle_rw(run) -> None:
    from crba_etl_spark.engine import CDCEngine
    from crba_etl_spark.streaming.tail import stream_apply

    n = trickle_epochs(run.seconds)
    total = TRICKLE_WARM_EPOCHS + n
    stage, tail, ckpt = run.path("stage"), run.path("tail"), run.path("ckpt")
    t0 = time.perf_counter()
    run.prepare(
        [
            {
                "kind": "stream",
                "dir": stage,
                "spec": {
                    "seed": run.seed,
                    "n_events": total * TRICKLE_EPOCH_EVENTS,
                    "n_epochs": total,
                    "evolve_epoch": TRICKLE_WARM_EPOCHS + n // 2,
                    "text_pad": TEXT_PAD,
                },
            }
        ]
    )
    os.makedirs(tail)

    def publish(k: int) -> None:
        os.rename(os.path.join(stage, f"epoch={k}"), os.path.join(tail, f"epoch={k}"))

    eng = CDCEngine(
        run.spark,
        run.path("table"),
        n_buckets=TRICKLE_BUCKETS,
        max_deltas_per_bucket=TRICKLE_MAX_DELTAS,
    )
    for k in range(TRICKLE_WARM_EPOCHS):
        publish(k)
    q = stream_apply(run.spark, eng, tail, ckpt, available_now=False)
    _wait_committed(eng, q, set(range(TRICKLE_WARM_EPOCHS)), 120)
    hot = _hot_ids(stage)[0]
    _lookup(run, eng, hot)
    _scan(run, eng)
    run.begin_measure(t0)

    # --- measured: open-loop publisher + reader on a fixed schedule ------
    measured = list(range(TRICKLE_WARM_EPOCHS, total))
    start = time.time() + 0.5
    due = {k: start + i * TRICKLE_PERIOD_S for i, k in enumerate(measured)}
    late: list[float] = []

    def publisher() -> None:
        for k in measured:
            while time.time() < due[k]:
                time.sleep(0.002)
            publish(k)
            late.append(time.time() - due[k])

    progress: list[dict] = []
    pub = threading.Thread(target=publisher, name="publisher")
    pub.start()
    lookups, scans, restart_at = [], [], None
    n_reads = math.ceil(n * TRICKLE_PERIOD_S / TRICKLE_READ_EVERY_S)
    try:
        for i in range(n_reads):
            read_due = start + i * TRICKLE_READ_EVERY_S
            while time.time() < read_due:
                time.sleep(0.002)
            if restart_at is None and read_due >= start + n // 2 * TRICKLE_PERIOD_S:
                # stop the tail once and resume it from its checkpoint
                progress += list(q.recentProgress)
                q.stop()
                restart_at = time.time()
                q = stream_apply(run.spark, eng, tail, ckpt, available_now=False)
            # each read is timed from when it was due, so a stall counts
            if i % TRICKLE_SCAN_EVERY == TRICKLE_SCAN_EVERY - 1:
                run.op("scan", _scan, run, eng)
                scans.append(time.time() - read_due)
            else:
                run.op("lookup", _lookup, run, eng, hot)
                lookups.append(time.time() - read_due)
    finally:
        pub.join()
    done = _wait_committed(eng, q, set(range(total)), 120)
    progress += list(q.recentProgress)
    q.stop()
    run.end_measure()
    run.attempted += len(measured)
    run.failed += 0 if done else len(set(measured) - eng.table.committed_epochs())

    first = _first_commit_times(eng.table.root)
    fresh = [first[k] - due[k] for k in measured if k in first]
    # batches that started after warmup (ISO-8601 UTC strings sort by time)
    began = _iso(start - 0.25)
    meas = [p for p in progress if p.get("numInputRows", 0) > 0 and p["timestamp"] >= began]
    # a ratio of sums over the whole run: compaction batches, a few times
    # slower than the rest, then weigh in by their share of the work
    # instead of flipping a median between the two kinds of batch
    busy_s = sum(p["durationMs"].get("addBatch", 0) for p in meas) / 1000.0
    run.metrics["throughput_per_s"] = sum(p["numInputRows"] for p in meas) / busy_s if busy_s else 0.0
    if not fresh:
        raise RuntimeError("no measured epoch committed")
    run.metrics["latency_s_p50"] = statistics.median(fresh)
    run.metrics["read_s_p50"] = statistics.median(lookups)
    run.metrics["table_bytes"] = float(_table_bytes(eng.table.root))
    run.layer["icelite.manifest_bytes"] = _manifest_bytes(eng)
    run.report.update(
        {
            "apply_events_per_s": run.metrics["throughput_per_s"],
            "freshness_s": summary(fresh),
            "lookup_s": summary(lookups),
            "scan_s": summary(scans),
            "publish_lateness_s": summary(late),
            "freshness_each_s": [round(x, 3) for x in fresh],
            "lookup_each_s": [round(x, 3) for x in lookups],
        }
    )
    restarts = [t for t in first.values() if restart_at is not None and t > restart_at]
    run.layer.update(
        {
            "tail.restart_s": (min(restarts) - restart_at) if restarts else 0.0,
            "tail.trigger_s": _mean_ms(meas, "triggerExecution"),
            "tail.latest_offset_s": _mean_ms(meas, "latestOffset"),
            "tail.add_batch_s": _mean_ms(meas, "addBatch"),
            "tail.epochs_per_batch": len(measured) / len(meas) if meas else 0.0,
            "trickle.publish_lateness_s_max": max(late) if late else 0.0,
            "trickle.scan_s_p50": statistics.median(scans) if scans else 0.0,
        }
    )
    _check_table(run, eng, tail)


def _iso(t: float) -> str:
    import datetime

    return datetime.datetime.fromtimestamp(t, datetime.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    )[:-3] + "Z"


def _mean_ms(progress: list[dict], key: str) -> float:
    vals = [p["durationMs"].get(key, 0) / 1000.0 for p in progress]
    return statistics.mean(vals) if vals else 0.0


def _wait_committed(eng, q, epochs: set[int], timeout_s: float) -> bool:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if epochs <= eng.table.committed_epochs():
            return True
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        time.sleep(0.01)
    return False


# --- operator_queries ------------------------------------------------------------


def query_passes(seconds: int) -> int:
    return max(2, seconds // 5)


def operator_queries(run) -> None:
    from crba_etl_spark import queries
    from crba_etl_spark.cache import release_caches

    reg = queries.registry()
    tables, warm = run.path("tables"), run.path("warm_tables")
    t0 = time.perf_counter()
    run.prepare(
        [
            {"kind": "tables", "dir": tables, "seed": run.seed, "scale": QUERY_SCALE},
            {"kind": "tables", "dir": warm, "seed": run.seed + 7919, "scale": QUERY_WARM_SCALE},
        ]
    )

    def one(name: str, where: str = tables) -> int:
        if run.tracer is None:
            n = reg[name][0](run.spark, where).count()
        else:
            with run.tracer.span(f"queries.{name}"):
                n = reg[name][0](run.spark, where).count()
        release_caches()
        return n

    for name in HEADLINE:  # warm pass: compiles every plan, on small tables
        one(name, warm)
    run.begin_measure(t0)

    passes, per_query = [], {name: [] for name in HEADLINE}
    for _ in range(query_passes(run.seconds)):
        a = time.perf_counter()
        for name in HEADLINE:
            _, took = _timed(run, name, one, name)
            per_query[name].append(took)
        passes.append(time.perf_counter() - a)
    run.metrics["throughput_per_s"] = len(HEADLINE) * len(passes) / sum(passes)
    run.metrics["latency_s_p50"] = statistics.median(passes)
    run.metrics["read_s_p50"] = statistics.median(t for ts in per_query.values() for t in ts)
    run.report["query_each_s"] = {k: [round(t, 3) for t in ts] for k, ts in per_query.items()}
    run.end_measure()
    run.metrics["table_bytes"] = float(dir_bytes(tables))
    run.report["queries_s"] = summary(passes)

    # every oracle runs in DuckDB in a thread while Spark collects results
    with ThreadPoolExecutor(1) as pool:
        oracle = pool.submit(_oracle_hashes, tables, {n: reg[n][1] for n in HEADLINE})
        got = {}
        for name in HEADLINE:
            got[name] = run.op(name, lambda: _result_hash(reg[name][0](run.spark, tables).toPandas()))
            release_caches()
        expected = run.op("oracle", oracle.result) or {}
    for name in HEADLINE:
        run.check(name, got[name] is not None and got[name] == expected.get(name))


def _result_hash(df) -> tuple:
    return sorted(df.columns), len(df), value_hash(df)


def _oracle_hashes(tables: str, sqls: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for t in QUERY_TABLES:
            path = os.path.join(tables, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {name: _result_hash(con.execute(sql).fetchdf()) for name, sql in sqls.items()}
    finally:
        con.close()


WORKLOADS = {
    "trickle_rw": trickle_rw,
    "dedup_ingest": dedup_ingest,
    "operator_queries": operator_queries,
}
