"""Structured Streaming tail: drain the change stream with availableNow,
assert identical final state to the batch oracle, and that a second run
of the stream (fresh streaming checkpoint, same table) is a no-op."""

import os

import pandas as pd
import pytest

from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final
from crba_etl_spark.streaming.tail import stream_apply


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream"))
    generate_stream(d, StreamSpec(seed=5, n_events=4000, n_epochs=4, evolve_epoch=None))
    return d


def test_stream_apply_matches_oracle(spark, stream, tmpdir_):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=8)
    q = stream_apply(
        spark, eng, stream, checkpoint_dir=os.path.join(tmpdir_, "ckpt")
    )
    q.awaitTermination(timeout=300)
    assert eng.table.committed_epochs() == {0, 1, 2, 3}
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts").toPandas().reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    # redeliver the whole tail with a FRESH streaming checkpoint: the
    # engine's epoch markers (not Spark's offsets) provide exactly-once
    q2 = stream_apply(
        spark, eng, stream, checkpoint_dir=os.path.join(tmpdir_, "ckpt2")
    )
    q2.awaitTermination(timeout=300)
    got2 = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got2, exp, check_dtype=False)


def test_late_arriving_file_completes_epoch_via_done_marker(spark, tmpdir_):
    """VERDICT r2 #3: epoch completeness is the producer's _DONE
    declaration (a strongly-consistent GET), never a directory listing.
    A file of a declared epoch that arrives AFTER the first slices were
    applied must (a) keep the epoch un-marked until it lands, (b) flow
    through a later micro-batch, (c) complete the epoch, with final
    state equal to the batch-replay oracle."""
    import shutil

    from crba_etl_spark.streaming import tail as tail_mod

    # the contract: no listing-based completeness inference anywhere
    with open(tail_mod.__file__) as f:
        assert "listdir" not in f.read()

    d = os.path.join(tmpdir_, "stream")
    generate_stream(
        d,
        StreamSpec(seed=11, n_events=2000, n_epochs=2, evolve_epoch=None,
                   rows_per_file=200),
    )
    # hold back one declared file of epoch 1 — the producer already
    # wrote _DONE, but this object hasn't "landed" for the consumer yet
    held = os.path.join(d, "epoch=1", "part-001.parquet")
    parked = os.path.join(tmpdir_, "parked.parquet")
    shutil.move(held, parked)

    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4)
    ckpt = os.path.join(tmpdir_, "ckpt")
    q = stream_apply(spark, eng, d, checkpoint_dir=ckpt, max_files_per_trigger=1)
    q.awaitTermination(timeout=300)

    # epoch 0 fully covered its declaration; epoch 1 is still open and
    # its cumulative applied-file set is persisted in the snapshot
    assert 0 in eng.table.committed_epochs()
    assert 1 not in eng.table.committed_epochs()
    assert "part-001.parquet" not in set(eng.table.epoch_files().get("1", []))

    # the late file lands; the SAME checkpoint picks up only the new file
    shutil.move(parked, held)
    q2 = stream_apply(spark, eng, d, checkpoint_dir=ckpt, max_files_per_trigger=1)
    q2.awaitTermination(timeout=300)

    assert eng.table.committed_epochs() == {0, 1}
    assert eng.table.epoch_files() == {}
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    exp = oracle_final(d).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # and a batch replay now skips both epochs
    r = eng.replay(d)
    assert r["epochs_applied"] == []


def test_rate_limited_soak_many_triggers(spark, tmpdir_):
    """Round-3 VERDICT #4: drive the tail the way a broker would —
    ``maxFilesPerTrigger=1`` so every source file is its own
    micro-batch (>=10 triggers), file arrival order INTERLEAVED across
    epochs (mtimes scrambled; the file source processes oldest-first),
    one epoch's _DONE arriving only mid-stream. Asserts: final state ==
    the batch-replay oracle, every epoch's marker lands, exactly ONE
    commit (metrics row) per (epoch, slice), and a full redelivery with
    a fresh checkpoint commits nothing new."""
    import glob
    import shutil

    d = os.path.join(tmpdir_, "stream")
    generate_stream(
        d,
        StreamSpec(seed=31, n_events=3600, n_epochs=3, evolve_epoch=None,
                   rows_per_file=300),
    )
    files = sorted(glob.glob(os.path.join(d, "epoch=*", "part-*.parquet")))
    assert len(files) >= 10  # >=10 triggers at one file per batch
    # scramble arrival order across epochs: oldest-first processing now
    # interleaves epoch 2 files between epoch 0's, etc.
    for i, p in enumerate(sorted(files, key=lambda s: hash(s))):
        t = 1_700_000_000 + i * 7
        os.utime(p, (t, t))
    # epoch 1's completeness is declared only after its files started
    # flowing (the late-_DONE regime, now under many tiny batches)
    parked = os.path.join(tmpdir_, "parked_DONE")
    shutil.move(os.path.join(d, "epoch=1", "_DONE"), parked)

    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=4,
        max_deltas_per_bucket=10_000,  # no compaction mid-soak: keep the
    )                                  # version history pure commit-per-slice
    ckpt = os.path.join(tmpdir_, "ckpt")
    q = stream_apply(spark, eng, d, checkpoint_dir=ckpt, max_files_per_trigger=1)
    q.awaitTermination(timeout=600)
    n_batches_1 = len(os.listdir(os.path.join(ckpt, "offsets")))
    assert n_batches_1 >= 10
    assert 1 not in eng.table.committed_epochs()

    shutil.move(parked, os.path.join(d, "epoch=1", "_DONE"))
    q2 = stream_apply(spark, eng, d, checkpoint_dir=ckpt, max_files_per_trigger=1)
    q2.awaitTermination(timeout=600)

    assert eng.table.committed_epochs() == {0, 1, 2}
    assert eng.table.epoch_files() == {}
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    exp = oracle_final(d).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    # exactly one commit per (epoch, slice): every slice marker in the
    # snapshot has exactly one metrics row, and their count matches
    slice_metrics = [
        f for f in os.listdir(eng.metrics_dir)
        if f.startswith("epoch=") and ".e" in f and f.endswith(".json")
    ]
    markers = eng.table.committed_slices()
    assert len(slice_metrics) == len(markers)
    assert len(set(slice_metrics)) == len(slice_metrics)

    # full redelivery, fresh checkpoint: zero new commits, state frozen
    v_before = eng.table.snapshot()["version"]
    q3 = stream_apply(
        spark, eng, d, checkpoint_dir=os.path.join(tmpdir_, "ckpt_redeliver"),
        max_files_per_trigger=1,
    )
    q3.awaitTermination(timeout=600)
    assert eng.table.snapshot()["version"] == v_before
    assert len(
        [f for f in os.listdir(eng.metrics_dir) if f.endswith(".json")]
    ) == len(slice_metrics)
