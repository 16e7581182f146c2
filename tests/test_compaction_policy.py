"""Compaction triggers (count-based, size-tiered), mid-replay
compaction across the schema-evolution boundary (a real divergence found
in round 2: duplicate-LSN redeliveries that straddled the boundary used
to carry a DIFFERENT payload than their original, breaking every max-LSN
tie-break), and the capped n-gram Jaccard under-approximation."""

import os

import duckdb
import pandas as pd

from conftest import make_events
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final
from crba_etl_spark.operators.text_dedup import ngram_jaccard_pairs


def _epoch(spark, k, text):
    return make_events(spark, [
        (100 * k + i, k, "I", f"c{i}", k, "user", text, None, k, k)
        for i in range(4)
    ])


def test_size_tiered_compaction_triggers(spark, tmpdir_):
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=2,
        max_delta_bytes_per_bucket=1,  # any delta byte trips it
    )
    eng.apply_epoch(_epoch(spark, 0, "x" * 100), 0)
    # compaction ran: deltas folded into the base
    assert not any(eng.table.deltas().values())
    assert eng.table.snapshot()["stats"].get("compaction") is True


def test_count_trigger_untouched_below_thresholds(spark, tmpdir_):
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=2,
        max_deltas_per_bucket=100, max_delta_bytes_per_bucket=10**12,
    )
    eng.apply_epoch(_epoch(spark, 0, "x"), 0)
    eng.apply_epoch(_epoch(spark, 1, "y"), 1)
    assert any(eng.table.deltas().values())  # no compaction yet


def test_mid_replay_compaction_across_evolution_matches_oracle(spark, tmpdir_):
    """max_deltas_per_bucket=1 forces a compaction after EVERY epoch, including
    straddling the evolution boundary — final state must still equal the
    independent DuckDB replay (regression: seed 19 diverged before the
    generator redelivery fix)."""
    d = os.path.join(tmpdir_, "s")
    generate_stream(d, StreamSpec(seed=19, n_events=6000, n_epochs=4, evolve_epoch=2))
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=8, max_deltas_per_bucket=1
    )
    eng.replay(d)
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, oracle_final(d).reset_index(drop=True),
                                  check_dtype=False)


def test_generator_duplicates_are_byte_identical(tmpdir_):
    """The CDC redelivery contract both the engine's and the oracle's
    max-LSN tie-breaks rely on: every copy of an LSN carries the
    identical payload — including the evolved column."""
    d = os.path.join(tmpdir_, "s")
    generate_stream(d, StreamSpec(seed=19, n_events=6000, n_epochs=4, evolve_epoch=2))
    con = duckdb.connect()
    bad = con.execute(
        f"""
        WITH ev AS (SELECT * FROM read_parquet('{d}/epoch=*/*.parquet',
                                               union_by_name=true))
        SELECT lsn FROM ev GROUP BY lsn
        HAVING count(DISTINCT (coalesce(text,'~'), coalesce(role,'~'),
                               coalesce(tool,'~'), op, conv_id, turn_idx)) > 1
        """
    ).fetchall()
    assert bad == []


def test_ngram_jaccard_doc_freq_cap_is_subset(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely unrelated text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    exact = {
        (r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=2).collect()
    }
    assert (1, 2) in exact
    assert capped <= exact  # cap only removes intersection evidence
    # a generous cap changes nothing
    same = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=10**6).collect()
    }
    assert same == exact
