"""Full-replay final-state equality vs the independent DuckDB oracle —
the north-rule acceptance check (per-turn text equality under stable
(conv_id, turn_idx, ts) ordering), mirroring the reference's cross-run
final-file diff (/root/reference/validation/comparison_of_final_files/
compare_two_final_csvs.py:3 (size=10834))."""

import os

import pandas as pd
import pytest

from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream"))
    generate_stream(d, StreamSpec(seed=42, n_events=8000, n_epochs=4, evolve_epoch=2))
    return d


@pytest.mark.parametrize("mode", ["mor"])
def test_replay_matches_oracle(spark, stream, tmpdir_, mode):
    eng = CDCEngine(spark, os.path.join(tmpdir_, mode), n_buckets=8)
    res = eng.replay(stream)
    assert res["epochs_applied"] == [0, 1, 2, 3]
    got = (
        eng.read_final()
        .orderBy("conv_id", "turn_idx", "ts")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_mor_compaction_preserves_state(spark, stream, tmpdir_):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=8)
    eng.replay(stream)
    exp = oracle_final(stream).reset_index(drop=True)
    eng.table.compact(spark)
    assert not any(eng.table.deltas().values())
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # dropping tombstones past the horizon also preserves the live view
    eng.table.compact(spark, drop_tombstones=True)
    got2 = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got2, exp, check_dtype=False)


def test_salted_reduce_equivalence(spark, stream):
    """Explicit salted two-phase reduce == hash-agg reduce."""
    from crba_etl_spark.operators.dedup import (
        dedup_lsn,
        reduce_latest,
        reduce_latest_salted,
    )

    ev = dedup_lsn(spark.read.parquet(os.path.join(stream, "epoch=3")))
    a = reduce_latest(ev).orderBy("conv_id", "turn_idx").toPandas()
    b = reduce_latest_salted(ev).orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True)[sorted(a.columns)],
        b.reset_index(drop=True)[sorted(b.columns)],
    )
