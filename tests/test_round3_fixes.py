"""Round-3 ADVICE regression tests.

1. The delta commit unions its schema with the LIVE snapshot's schema,
   so a delta commit racing a schema evolution can never shrink the
   manifest schema (it has no bucket validation to catch this).
2. (low) An epoch whose completeness becomes known only AFTER its last
   slice was applied (late ``_DONE``) must still enter
   ``committed_epochs`` — via skip-path promotion (retried slice) or
   the tail's still-open-epoch sweep.
3. (low) Operator persists are tracked and releasable
   (``cache.release_caches``) instead of leaking for the session.
"""

import json
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import make_events
from crba_etl_spark.cache import release_caches, tracked_caches
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final
from crba_etl_spark.icelite import IceliteTable
from crba_etl_spark.schema import TRANSCRIPT
from crba_etl_spark.streaming.tail import stream_apply


def _with_mood(df, mood):
    return df.withColumn("mood", F.lit(mood))


def test_delta_commit_unions_live_schema(spark, tmpdir_):
    """A MOR delta commit carrying a pre-evolution schema must not
    shrink the manifest schema below what the live snapshot already
    has (no bucket validation guards this path)."""
    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=2)
    eng.apply_epoch(
        _with_mood(
            make_events(spark, [(10, 1, "I", "c1", 0, "user", "hello", None, 0, 0)]),
            "calm",
        ),
        1,
    )
    assert "mood" in [f.name for f in eng.table.schema().fields]

    # a racing writer commits with the schema it read BEFORE the
    # evolution (TRANSCRIPT has no `mood`)
    eng.table.commit_deltas(
        epoch=2, new_bucket_files={}, schema=TRANSCRIPT, stats={}
    )
    assert "mood" in [f.name for f in eng.table.schema().fields]
    got = eng.table.read(spark).collect()
    assert [(r.conv_id, r.mood) for r in got] == [("c1", "calm")]


@pytest.mark.parametrize("mode", ["mor"])
def test_retried_slice_promotes_epoch_marker(spark, tmpdir_, mode):
    """ADVICE low (tail.py): the last slice of an epoch was applied
    while the epoch was still open (mark_epoch=False); the retried
    slice — now knowing the epoch is complete — skips on its marker but
    MUST promote the epoch into committed_epochs (metadata-only)."""
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4)
    ev = make_events(spark, [(10, 1, "I", "c1", 0, "user", "hi", None, 0, 0)])
    st = eng.apply_epoch(
        ev, 1, slice_marker="e1:b0", mark_epoch=False, slice_files=["f0"]
    )
    assert not st.get("skipped")
    assert 1 not in eng.table.committed_epochs()
    assert eng.table.epoch_files() == {"1": ["f0"]}

    st2 = eng.apply_epoch(
        ev, 1, slice_marker="e1:b0", mark_epoch=True, slice_files=["f0"]
    )
    assert st2["skipped"] and "promoted" in st2["reason"]
    assert 1 in eng.table.committed_epochs()
    assert eng.table.epoch_files() == {}
    # idempotent: promoting again is a no-op skip
    st3 = eng.apply_epoch(
        ev, 1, slice_marker="e1:b0", mark_epoch=True, slice_files=["f0"]
    )
    assert st3["skipped"] and "promoted" not in st3["reason"]


def test_late_done_marker_promotes_via_sweep(spark, tmpdir_):
    """The producer's _DONE for epoch 1 lands only AFTER the stream
    already applied every epoch-1 file. No future micro-batch carries
    epoch-1 rows (the file source never re-reads processed files), so
    the tail's still-open-epoch sweep must promote the marker when the
    next batch (epoch 2's files) fires."""
    d = os.path.join(tmpdir_, "stream")
    generate_stream(
        d,
        StreamSpec(seed=23, n_events=3000, n_epochs=3, evolve_epoch=None,
                   rows_per_file=300),
    )
    # park epoch 1's _DONE (producer slow to declare) and ALL of epoch 2
    # (its traffic arrives later and will trigger the sweep)
    parked_done = os.path.join(tmpdir_, "parked_DONE")
    shutil.move(os.path.join(d, "epoch=1", "_DONE"), parked_done)
    parked_e2 = os.path.join(tmpdir_, "parked_epoch2")
    shutil.move(os.path.join(d, "epoch=2"), parked_e2)

    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4)
    ckpt = os.path.join(tmpdir_, "ckpt")
    q = stream_apply(spark, eng, d, checkpoint_dir=ckpt)
    q.awaitTermination(timeout=300)

    # epoch 1 fully applied (its whole declared set) but NOT committed —
    # completeness was undeclarable without _DONE
    assert 0 in eng.table.committed_epochs()
    assert 1 not in eng.table.committed_epochs()
    with open(parked_done) as f:
        declared = set(json.load(f)["files"])
    assert set(eng.table.epoch_files()["1"]) == declared

    # _DONE lands late; epoch 2's files arrive; same checkpoint
    shutil.move(parked_done, os.path.join(d, "epoch=1", "_DONE"))
    shutil.move(parked_e2, os.path.join(d, "epoch=2"))
    q2 = stream_apply(spark, eng, d, checkpoint_dir=ckpt)
    q2.awaitTermination(timeout=300)

    assert eng.table.committed_epochs() == {0, 1, 2}
    assert eng.table.epoch_files() == {}
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    exp = oracle_final(d).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_operator_persists_are_tracked_and_released(spark):
    """ADVICE low: LSH operators persist signatures before self-joins;
    the registry must free them on demand instead of leaking for the
    session."""
    from crba_etl_spark.operators.text_dedup import minhash_lsh_candidates

    release_caches()  # drop anything earlier tests registered
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared text") for i in range(30)],
        "doc_id long, text string",
    )
    minhash_lsh_candidates(docs).count()
    assert release_caches() >= 1
    assert release_caches() == 0  # registry drained

    with tracked_caches():
        minhash_lsh_candidates(docs).count()
    assert release_caches() == 0  # context manager already freed it
