"""Round-4 ADVICE regressions.

- medium (engine.replay vs _DONE): a batch replay over a still-OPEN
  epoch directory must not mark the epoch committed — committed epochs
  suppress every later slice by contract, so an unconditional batch
  commit permanently drops files that land after the replay.
- low (cache registry): release_caches()/tracked_caches from one
  pipeline must not unpersist relations a concurrent context depends on.
"""

import json
import os
import shutil
import threading

import pandas as pd

from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final


def _park(src: str, dst_dir: str, names: list[str]) -> None:
    os.makedirs(dst_dir, exist_ok=True)
    for n in names:
        shutil.move(os.path.join(src, n), os.path.join(dst_dir, n))


def test_batch_replay_of_open_epoch_keeps_it_open(spark, tmpdir_):
    """The exact round-4 ADVICE hazard: replay an epoch whose producer
    is still writing (no _DONE, half the files missing), then let the
    rest of the files + _DONE land, replay again. The late files MUST
    apply; under the old unconditional whole-epoch commit they were
    suppressed forever by the committed-epoch marker."""
    stream = os.path.join(tmpdir_, "s")
    generate_stream(
        stream,
        StreamSpec(seed=31, n_events=3000, n_epochs=3, rows_per_file=300),
    )
    d1 = os.path.join(stream, "epoch=1")
    files1 = sorted(f for f in os.listdir(d1) if f.endswith(".parquet"))
    assert len(files1) >= 2, "fixture must chunk epoch 1 into several files"
    parked = os.path.join(tmpdir_, "parked")
    late = files1[len(files1) // 2 :]
    _park(d1, parked, late + ["_DONE"])  # producer mid-write: no _DONE yet

    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=8)
    r1 = eng.replay(stream)
    assert r1["epochs_applied"] == [0, 1, 2]
    snap = eng.table.snapshot()
    assert set(snap["committed_epochs"]) == {0, 2}  # epoch 1 stays OPEN
    assert set(snap["epoch_files"]["1"]) == set(files1) - set(late)

    # same replay again while still open: content-addressed slice dedupe
    r2 = eng.replay(stream)
    assert r2["epochs_applied"] == []
    assert set(eng.table.snapshot()["committed_epochs"]) == {0, 2}

    # the producer finishes: late files + _DONE land; replay applies ONLY
    # the unseen files and promotes the exactly-once marker
    _park(parked, d1, late + ["_DONE"])
    r3 = eng.replay(stream)
    assert r3["epochs_applied"] == [1]
    with open(os.path.join(d1, "_DONE")) as f:
        declared = set(json.load(f)["files"])
    snap = eng.table.snapshot()
    assert set(snap["committed_epochs"]) == {0, 1, 2}
    assert "1" not in snap.get("epoch_files", {})  # marker subsumed it
    assert declared == set(files1)

    got = (
        eng.read_final()
        .orderBy("conv_id", "turn_idx", "ts")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    # fully-committed redelivery is still a pure no-op
    r4 = eng.replay(stream)
    assert r4["epochs_applied"] == [] and r4["epochs_skipped"] == [0, 1, 2]


def test_batch_replay_promotes_marker_when_only_done_is_late(spark, tmpdir_):
    """All files were applied while the epoch was open; a later replay
    finds _DONE covering exactly those files and must land the marker
    via a metadata-only commit (no data re-read)."""
    stream = os.path.join(tmpdir_, "s")
    generate_stream(
        stream,
        StreamSpec(seed=37, n_events=2000, n_epochs=2, rows_per_file=400),
    )
    d1 = os.path.join(stream, "epoch=1")
    parked = os.path.join(tmpdir_, "parked")
    _park(d1, parked, ["_DONE"])

    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=8)
    eng.replay(stream)
    assert set(eng.table.snapshot()["committed_epochs"]) == {0}

    _park(parked, d1, ["_DONE"])
    r = eng.replay(stream)
    assert r["epochs_applied"] == []  # nothing re-read — promotion only
    assert set(eng.table.snapshot()["committed_epochs"]) == {0, 1}
    got = (
        eng.read_final()
        .orderBy("conv_id", "turn_idx", "ts")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_release_caches_scoped_per_context(spark):
    """Round-4 ADVICE low: a release from one pipeline context must not
    unpersist a concurrently tracked relation from another."""
    from crba_etl_spark.cache import persist_tracked, release_caches, tracked_caches

    outer = persist_tracked(spark.range(100).selectExpr("id", "id * 2 AS v"))
    outer.count()

    inner_df = {}
    entered = threading.Event()
    release_now = threading.Event()

    def worker():
        with tracked_caches():
            df = persist_tracked(spark.range(50).selectExpr("id"))
            df.count()
            inner_df["df"] = df
            entered.set()
            release_now.wait(30)
            assert inner_df["df"].storageLevel.useMemory  # untouched by outer release
        inner_df["after"] = inner_df["df"].storageLevel.useMemory

    t = threading.Thread(target=worker)
    t.start()
    assert entered.wait(30)
    # outer context releases ITS registry — the worker's tracked persist
    # (scoped to its own context) must survive
    release_caches()
    assert not outer.storageLevel.useMemory
    release_now.set()
    t.join(30)
    assert inner_df["after"] is False  # context exit released the inner persist
